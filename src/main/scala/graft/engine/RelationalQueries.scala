package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declared relational operator surface (SURVEY.md §2C): projection,
  * filters, all join shapes, hash aggregation, rollup/cube, windows,
  * sorts/limits, set ops, and the scalar-function families. Each entry
  * carries an equivalent DuckDB oracle (hash-compared by the driver).
  *
  * Conventions for oracle parity:
  *  - every computed column aliased identically on both sides;
  *  - every query ends in a total-order ORDER BY (deterministic rows);
  *  - doubles rounded (2dp money, 4–6dp ratios) so independent
  *    summation orders cannot flip a hash;
  *  - integer-ish outputs cast to BIGINT on the Spark side because
  *    DuckDB's length/year/row_number return BIGINT.
  *
  * Scale notes (100 TB design): all plans here are shuffle-minimal —
  * dimension joins are broadcast, aggregations are partial+final
  * (map-side combine is automatic), filters/projections reach the
  * parquet scan (verified via .explain PushedFilters), and no query
  * collects to the driver.
  */
object RelationalQueries {
  import QueryDef._
  import Tables._

  val all: Seq[QueryDef] = Seq(

    // ---- aggregation ----------------------------------------------------
    sql("q01_agg_pricing",
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty, round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin) {
      (s, d) =>
        lineitem(s, d)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- projection + predicate families -------------------------------
    // Row-level money arithmetic is compared in integer 1e-4 units: the
    // product of two 2-decimal doubles is a 4-decimal value whose
    // round(x,2) sits exactly on the half-way boundary, where Spark
    // (BigDecimal HALF_UP on the shortest decimal repr) and DuckDB
    // (binary-value rounding) legitimately disagree. Scaling to an
    // integer keeps the comparison exact on both engines.
    sql("q02_filter_project",
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(l_extendedprice*(1-l_discount)*10000, 0) AS BIGINT) AS net_e4,
        | l_returnflag || l_linestatus AS flag
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A','R')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_linestatus IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber, net_e4, flag""".stripMargin) {
      (s, d) =>
        lineitem(s, d)
          .filter(col("l_quantity").between(10, 20)
            && col("l_returnflag").isin("A", "R")
            && col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_linestatus").isNotNull)
          .select(col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000, 0)
              .cast("long").as("net_e4"),
            concat(col("l_returnflag"), col("l_linestatus")).as("flag"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("net_e4"), col("flag"))
    },

    // ---- joins ----------------------------------------------------------
    sql("q03_join_agg_revenue",
      """SELECT c_mktsegment, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, d) =>
        val c = broadcast(customer(s, d))
        val o = orders(s, d).filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        val l = lineitem(s, d)
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy(col("c_mktsegment"))
    },

    // q03 with EXACT money: the whole-catalog 100× oracle sweep showed
    // q03's round(sum(double),2) revenue disagreeing between engines by
    // 0.03 in 5.16e11 — a 16-significant-digit total is past double
    // precision, so summation ORDER picks the last digit (and on a real
    // cluster, run-to-run shuffle order would make the engine disagree
    // with itself). The production shape: recover the nominal 2-decimal
    // values as DECIMAL(18,2) (both engines round the shortest double
    // repr — MoneyFunctions scaladoc), multiply/sum in exact decimals
    // (associative, partition-order-free), and cross the output edge as
    // a canonical decimal STRING (the r15 >Int64 driver-hash contract —
    // e4 units pass Int64 at warehouse scale). q03 itself stays as the
    // driver-scale double contract; its 100× regime limit is SCALE.md
    // r15's float-associativity row.
    sql("q219_join_agg_revenue_exact",
      """SELECT c_mktsegment,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue_exact,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, d) =>
        import graft.functions.MoneyFunctions.{discountedNet, decimalEdgeE4}
        // r15: pre-aggregate lineitem per order BEFORE the join (guide
        // §2.3 "aggregate before you shuffle"). o_orderkey is unique in
        // orders (TPC-H key; q153 pins the expectation), so after the
        // per-order roll-up every joined row is one distinct order:
        // count(1) ≡ countDistinct(o_orderkey) — the distinct-aggregate
        // Expand over the full joined fact table disappears — and the
        // decimal sum re-associates exactly (DECIMAL arithmetic is
        // order-free, unlike q03's double sum, which stays untouched
        // for exactly that reason).
        val c = customer(s, d)
        val o = orders(s, d).filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        val lagg = lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(sum(discountedNet(col("l_extendedprice"), col("l_discount"))).as("__net"))
        o.join(lagg, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            decimalEdgeE4(sum(col("__net"))).as("revenue_exact"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("c_mktsegment"))
    },

    sql("q04_join_left_outer",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice),0),2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) {
      (s, d) =>
        customer(s, d).join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            round(coalesce(sum("o_totalprice"), lit(0)), 2).as("total_spent"))
          .orderBy(col("c_custkey"))
    },

    sql("q05_join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) {
      (s, d) =>
        customer(s, d).join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
    },

    sql("q06_join_semi",
      """SELECT c_custkey, c_name, round(c_acctbal,2) AS bal FROM customer
        |WHERE c_acctbal > 1000
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) {
      (s, d) =>
        customer(s, d).filter(col("c_acctbal") > 1000)
          .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("bal"))
          .orderBy(col("c_custkey"))
    },

    sql("q23_theta_join_pairs",
      """SELECT a.n_nationkey AS k1, b.n_nationkey AS k2, a.n_name AS name1, b.n_name AS name2
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        |ORDER BY k1, k2""".stripMargin) {
      (s, d) =>
        val a = nation(s, d).alias("a")
        val b = nation(s, d).alias("b")
        a.join(b, col("a.n_regionkey") === col("b.n_regionkey")
            && col("a.n_nationkey") < col("b.n_nationkey"))
          .select(col("a.n_nationkey").as("k1"), col("b.n_nationkey").as("k2"),
            col("a.n_name").as("name1"), col("b.n_name").as("name2"))
          .orderBy(col("k1"), col("k2"))
    },

    sql("q24_cross_join",
      """SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name""") {
      (s, d) =>
        region(s, d).crossJoin(nation(s, d))
          .select(col("r_name"), col("n_name")).orderBy(col("r_name"), col("n_name"))
    },

    // ---- window functions ----------------------------------------------
    sql("q07_window_topk",
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("price"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
    },

    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    // both the window order and the output order carry enough tiebreak
    // columns (partkey, extendedprice) to be a verified total order —
    // otherwise the two engines may legally emit tied rows differently.
    sql("q08_window_running",
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
        | round(sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_qty,
        | lag(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice) AS prev_qty,
        | lead(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice) AS next_qty,
        | first_value(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_partkey, running_qty""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_extendedprice"))
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        lineitem(s, d).select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(sum("l_quantity").over(wf), 2).as("running_qty"),
          lag("l_quantity", 1).over(w).as("prev_qty"),
          lead("l_quantity", 1).over(w).as("next_qty"),
          first("l_quantity").over(wf).as("first_qty"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("running_qty"))
    },

    sql("q25_window_rank_ntile",
      """SELECT s_suppkey, s_name, rnk, drnk, quartile FROM (
        | SELECT s_suppkey, s_name,
        |  rank() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rnk,
        |  dense_rank() OVER (ORDER BY s_nationkey) AS drnk,
        |  ntile(4) OVER (ORDER BY s_acctbal DESC, s_suppkey) AS quartile
        | FROM supplier) t ORDER BY s_suppkey""".stripMargin) {
      (s, d) =>
        // deliberately UNPARTITIONED windows: global rank/ntile is the
        // declared operator, and it runs over `supplier` — a dimension
        // table, small at every scale factor. Spark's single-partition
        // WindowExec warning is the expected cost of a total order;
        // fact-table windows elsewhere (q07/q08/q62) all partition.
        val wBal = Window.orderBy(col("s_acctbal").desc, col("s_suppkey"))
        val wNat = Window.orderBy(col("s_nationkey"))
        supplier(s, d).select(
          col("s_suppkey"), col("s_name"),
          rank().over(wBal).cast("long").as("rnk"),
          dense_rank().over(wNat).cast("long").as("drnk"),
          ntile(4).over(wBal).cast("long").as("quartile"))
          .orderBy(col("s_suppkey"))
    },

    // ---- rollup / cube / grouping sets ---------------------------------
    sql("q09_rollup_stats",
      """SELECT grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
        | l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, d) =>
        lineitem(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
            round(sum("l_quantity"), 2).as("qty"))
          .select(col("gid"), col("l_returnflag"), col("l_linestatus"), col("n"), col("qty"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    sql("q26_cube_stats",
      """SELECT grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
        | l_returnflag, l_linestatus, count(*) AS n,
        | round(avg(l_extendedprice),2) AS avg_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, d) =>
        lineitem(s, d).cube(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
            round(avg("l_extendedprice"), 2).as("avg_price"))
          .select(col("gid"), col("l_returnflag"), col("l_linestatus"), col("n"), col("avg_price"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- distinct / count-distinct -------------------------------------
    sql("q10_distinct_pairs",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) {
      (s, d) =>
        lineitem(s, d).select(col("l_returnflag"), col("l_linestatus"))
          .distinct().orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    sql("q11_count_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        lineitem(s, d).groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
    },

    // ---- sort / limit / top-k ------------------------------------------
    sql("q12_topk_orders",
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) {
      (s, d) =>
        orders(s, d).orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
    },

    // ---- set operations -------------------------------------------------
    sql("q13_union_distinct",
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |UNION SELECT o_custkey AS custkey FROM orders ORDER BY custkey""".stripMargin) {
      (s, d) =>
        customer(s, d).filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
          .union(orders(s, d).select(col("o_custkey").as("custkey")))
          .distinct().orderBy(col("custkey"))
    },

    sql("q14_intersect",
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT SELECT o_custkey AS custkey FROM orders ORDER BY custkey""".stripMargin) {
      (s, d) =>
        customer(s, d).filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
          .intersect(orders(s, d).select(col("o_custkey").as("custkey")))
          .orderBy(col("custkey"))
    },

    sql("q15_except",
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |EXCEPT SELECT o_custkey AS custkey FROM orders ORDER BY custkey""".stripMargin) {
      (s, d) =>
        customer(s, d).filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
          .except(orders(s, d).select(col("o_custkey").as("custkey")))
          .orderBy(col("custkey"))
    },

    // ---- scalar function families --------------------------------------
    sql("q16_string_funcs",
      """SELECT p_partkey, upper(p_name) AS uname, lower(p_brand) AS lbrand,
        | CAST(length(p_name) AS BIGINT) AS name_len, substring(p_name, 1, 5) AS name5,
        | string_split(p_name, ' ')[1] AS first_tok,
        | regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        | p_brand || '#' || CAST(p_size AS VARCHAR) AS tag,
        | regexp_replace(p_name, 'a', '@', 'g') AS subbed,
        | trim('  ' || p_name || ' ') AS trimmed
        |FROM part WHERE p_name LIKE '%e%' ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        part(s, d).filter(col("p_name").like("%e%"))
          .select(col("p_partkey"),
            upper(col("p_name")).as("uname"),
            lower(col("p_brand")).as("lbrand"),
            length(col("p_name")).cast("long").as("name_len"),
            substring(col("p_name"), 1, 5).as("name5"),
            split(col("p_name"), " ").getItem(0).as("first_tok"),
            regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
            concat(col("p_brand"), lit("#"), col("p_size").cast("string")).as("tag"),
            regexp_replace(col("p_name"), "a", "@").as("subbed"),
            trim(concat(lit("  "), col("p_name"), lit(" "))).as("trimmed"))
          .orderBy(col("p_partkey"))
    },

    sql("q17_datetime_funcs",
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(month(o_orderdate) AS BIGINT) AS mo, CAST(day(o_orderdate) AS BIGINT) AS dy,
        | CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS omonth,
        | o_orderdate + INTERVAL 5 DAY AS plus5,
        | datediff('day', DATE '1995-01-01', o_orderdate) AS days_since,
        | CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin) {
      (s, d) =>
        orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dy"),
          date_trunc("month", col("o_orderdate")).as("omonth"),
          (col("o_orderdate") + expr("INTERVAL 5 DAY")).as("plus5"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
          .orderBy(col("o_orderkey"))
    },

    sql("q18_math_funcs",
      """SELECT l_orderkey, l_linenumber, CAST(round(l_extendedprice*100, 0) AS BIGINT) AS cents,
        | CAST(floor(l_extendedprice) AS BIGINT) AS fl, CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        | round(abs(l_discount - 0.05), 4) AS ab, round(pow(l_quantity, 2), 2) AS pw,
        | round(ln(l_extendedprice), 6) AS lg, round(sqrt(l_quantity), 6) AS sq,
        | l_orderkey % 7 AS md
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, cents, ab, pw""".stripMargin) {
      (s, d) =>
        lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          round(abs(col("l_discount") - 0.05), 4).as("ab"),
          round(pow(col("l_quantity"), 2), 2).as("pw"),
          round(log(col("l_extendedprice")), 6).as("lg"),
          round(sqrt(col("l_quantity")), 6).as("sq"),
          pmod(col("l_orderkey"), lit(7L)).as("md"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("cents"), col("ab"), col("pw"))
    },

    sql("q19_conditional_case",
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'finished'
        |            WHEN o_orderstatus = 'O' THEN 'open' ELSE 'other' END AS status_class,
        | count(*) AS n,
        | CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        | count(DISTINCT coalesce(nullif(o_orderpriority, '1-URGENT'), 'was-urgent')) AS n_prio
        |FROM orders GROUP BY 1 ORDER BY status_class""".stripMargin) {
      (s, d) =>
        orders(s, d)
          .withColumn("status_class",
            when(col("o_orderstatus") === "F", "finished")
              .when(col("o_orderstatus") === "O", "open")
              .otherwise("other"))
          .groupBy(col("status_class"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_totalprice") > 100000, 1L).otherwise(0L)).as("n_big"),
            countDistinct(coalesce(nullif(col("o_orderpriority"), lit("1-URGENT")), lit("was-urgent"))).as("n_prio"))
          .orderBy(col("status_class"))
    },

    sql("q20_casts",
      """SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS price_int,
        | CAST(o_orderkey AS VARCHAR) AS key_str,
        | CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
        | CAST(o_orderdate AS DATE) AS odate
        |FROM orders ORDER BY o_orderkey""".stripMargin) {
      (s, d) =>
        orders(s, d).select(col("o_orderkey"),
          floor(col("o_totalprice")).as("price_int"),
          col("o_orderkey").cast("string").as("key_str"),
          // Decimal round-trips through the cast under test, but the compared output is
          // DOUBLE: decimal128 vs Spark Decimal hash differently in the driver's
          // arrow-level compare even when values are identical.
          round(col("o_totalprice"), 2).cast("decimal(18,2)").cast("double").as("price_dec"),
          col("o_orderdate").cast("date").as("odate"))
          .orderBy(col("o_orderkey"))
    },

    sql("q21_having",
      """SELECT c_mktsegment, round(avg(c_acctbal),2) AS avg_bal, count(*) AS n
        |FROM customer GROUP BY c_mktsegment HAVING count(*) > 10
        |ORDER BY c_mktsegment""".stripMargin) {
      (s, d) =>
        customer(s, d).groupBy(col("c_mktsegment"))
          .agg(round(avg("c_acctbal"), 2).as("avg_bal"), count(lit(1)).as("n"))
          .filter(col("n") > 10)
          .orderBy(col("c_mktsegment"))
    },

    sql("q22_in_subquery",
      """SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin) {
      (s, d) =>
        orders(s, d)
          .join(broadcast(customer(s, d).filter(col("c_mktsegment") === "BUILDING")),
            col("o_custkey") === col("c_custkey"), "left_semi")
          .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
          .orderBy(col("o_orderkey"))
    },

    // ---- percentiles ----------------------------------------------------
    sql("q27_percentiles",
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) => {
        // exact percentile, histogram-first ONLY where the histogram
        // collapses (r15 session-3 A/B): l_quantity has ~50 distinct
        // values, so (flag, value) pre-aggregation is a codegen'd
        // primitive HashAggregate and percentile(value, p, count) over
        // the tiny histogram is the identical weighted interpolation
        // (Spark's frequency overload). l_extendedprice is near-unique
        // (583 k distinct / 600 k rows at sf0.1), so histogramming it
        // first SHIPPED the whole column through an extra aggregate
        // layer for nothing — measured 2.60 s vs 1.68 s for this form.
        // Both price percentiles share ONE percentile(col, array(..))
        // buffer instead of building the value map twice. Same result
        // by construction (identical interpolation, hash-equal at
        // sf0.1).
        val li = lineitem(s, d)
        val qtyH = li.groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("__n"))
          .groupBy(col("l_returnflag"))
          .agg(round(expr("percentile(l_quantity, 0.5, __n)"), 4).as("p50_qty"))
        val priceH = li.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, array(0.9, 0.99))").as("__pp"))
          .select(col("l_returnflag"),
            round(col("__pp").getItem(0), 4).as("p90_price"),
            round(col("__pp").getItem(1), 4).as("p99_price"))
        qtyH.join(priceH, "l_returnflag")
          .select(col("l_returnflag"), col("p50_qty"),
            col("p90_price"), col("p99_price"))
          .orderBy(col("l_returnflag"))
      }
    },

    // ---- variance / stddev ---------------------------------------------
    sql("q28_stats_agg",
      """SELECT l_returnflag, round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(var_samp(l_quantity), 4) AS var_qty,
        | round(min(l_extendedprice), 2) AS min_price, round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        lineitem(s, d).groupBy(col("l_returnflag"))
          .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
            round(var_samp(col("l_quantity")), 4).as("var_qty"),
            round(min("l_extendedprice"), 2).as("min_price"),
            round(max("l_extendedprice"), 2).as("max_price"))
          .orderBy(col("l_returnflag"))
    }
  )
}
