package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.ops.Loops._
import graft.schema.Tables.{t, views}

/** Batch relational operator battery (SURVEY.md §2.2): scans, projections,
  * filters, every join shape, aggregation variants, window functions,
  * sorts/top-k, set ops, and the scalar-function surface.
  *
  * Scale design (100 TB): fact tables (lineitem/orders/events) are only ever
  * scanned with pushed-down filters and pruned columns; dimension tables
  * (region/nation/supplier/part/customer) are broadcast-hinted in joins so
  * no fact-side shuffle happens for star joins; aggregations rely on
  * Catalyst's two-phase HashAggregate (map-side partial agg) so shuffle
  * volume is |groups|, not |rows|; AQE (on by default in Spark 4) coalesces
  * post-shuffle partitions and handles skew joins at runtime.
  */
object Relational {

  private val CUTOFF = "1997-06-30 00:00:00"

  /** Money/quantity columns carry ≤2 true decimal digits; casting to DECIMAL
    * before SUM makes the aggregate exact and therefore bit-identical across
    * Spark and DuckDB regardless of partial-aggregation order — no rounding
    * tolerance games. (Doubles stay doubles for avg/stddev where we round.) */
  private def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Canonical output type for exact decimal sums: one final cast to DOUBLE.
    * Spark's sum(DECIMAL(p,s)) widens to DECIMAL(p+10,s) while DuckDB's
    * widens to DECIMAL(38,s); both are exact, but the driver's hasher treats
    * the physical types as part of the value, so a decimal output column can
    * never hash-match. A single exact-decimal→double conversion is
    * bit-deterministic on both engines (each money sum fits a double's 53-bit
    * mantissa at test scale) and DOUBLE outputs demonstrably hash-match. */
  private def sumD(c: org.apache.spark.sql.Column) = c.cast("double")

  val qs: Seq[Q] = Seq(

    // ---- market-basket association rules over order contents ----
    // Classic basket mining on the fact tables: baskets = orders, items =
    // part brands; for brand pairs co-occurring in an order, support,
    // confidence and lift from exact co-occurrence counts. Scale shape:
    // the pair generator self-joins the DISTINCT (order, brand) frame on
    // the order key, so fanout is bounded by items-per-order (~7 -> <= 21
    // pairs), never corpus-squared; per-brand and pair counts are map-
    // side-combined aggregates, the rule table is cut by support >= 20
    // then top-20 by lift via TakeOrderedAndProject. All three measures
    // are single divisions of exact integers, rounded at 6.
    Q("q271_basket_rules",
      """WITH ob AS (SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT count(DISTINCT o) AS n_orders FROM ob),
        |ib AS (SELECT b, count(*) AS cnt FROM ob GROUP BY 1),
        |pr AS (SELECT a.b AS b1, c.b AS b2, count(*) AS ab
        |  FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
        |  GROUP BY 1, 2),
        |r AS (SELECT b1, b2, ab, ia.cnt AS ca, ic.cnt AS cb, n_orders,
        |    round(CAST(ab AS DOUBLE) / n_orders, 6) AS support,
        |    round(CAST(ab AS DOUBLE) / ia.cnt, 6) AS confidence,
        |    round(CAST(ab AS DOUBLE) * n_orders
        |      / (CAST(ia.cnt AS DOUBLE) * ic.cnt), 6) AS lift
        |  FROM pr JOIN ib ia ON pr.b1 = ia.b JOIN ib ic ON pr.b2 = ic.b, n
        |  WHERE ab >= 20)
        |SELECT b1, b2, CAST(ab AS BIGINT) AS ab, support, confidence, lift
        |FROM r
        |ORDER BY lift DESC, b1, b2
        |LIMIT 20""".stripMargin) { (s, dir) =>
      // Pinned (OPTIMIZATION_r16): ob feeds FOUR branches (n, ib, and both
      // sides of the pair self-join) and each branch's plan re-embedded
      // the lineitem⋈part join + distinct — the whole fact-side scan run
      // up to 4× (plans/r16/q271_before.txt shows the join subtree four
      // times). EAGER per the r17 A/B (VERDICT r16 item 7): the lazy pin
      // materialized concurrently across AQE's parallel branch stages
      // (the q334 scaladoc race) — isolated min-of-2 task time read
      // 4.0 s lazy vs 2.7 s eager at identical 12.4 MB shuffle.
      // Downstream aggregates are integer counts, order-immune.
      val ob = t(s, dir, "lineitem").select(col("l_orderkey").as("o"), col("l_partkey"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand").as("b")),
          col("l_partkey") === col("p_partkey"))
        .select(col("o"), col("b")).distinct()
        .pin(true)
      val n = ob.agg(countDistinct(col("o")).as("n_orders"))
      val ib = ob.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      // Pair source kept as the self-join: the r17 collect_list +
      // 2-combination HOF alternative measured IDENTICAL isolated
      // (cpu_ms_r2 2743 vs 2621, min 2.94 vs 2.87 s) — collect_list has
      // no map-side combine and the per-basket sort costs what the join
      // materialization saved. Recorded so round 18 does not re-walk it.
      val a = ob.select(col("o"), col("b").as("b1"))
      val c = ob.select(col("o"), col("b").as("b2"))
      val pr = a.join(c, Seq("o")).filter(col("b1") < col("b2"))
        .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("ab"))
      pr.join(broadcast(ib.select(col("b").as("b1"), col("cnt").as("ca"))), Seq("b1"))
        .join(broadcast(ib.select(col("b").as("b2"), col("cnt").as("cb"))), Seq("b2"))
        .crossJoin(broadcast(n))
        .filter(col("ab") >= 20)
        .select(col("b1"), col("b2"), col("ab").cast("long").as("ab"),
          round(col("ab").cast("double") / col("n_orders"), 6).as("support"),
          round(col("ab").cast("double") / col("ca"), 6).as("confidence"),
          round(col("ab").cast("double") * col("n_orders")
            / (col("ca").cast("double") * col("cb")), 6).as("lift"))
        .orderBy(col("lift").desc, col("b1"), col("b2"))
        .limit(20)
    },

    // ---- aggregation over a filtered scan (TPC-H Q1 shape) ----
    // Filter + projection reach the parquet scan (PushedFilters/ReadSchema);
    // groupBy on 2 low-cardinality keys → tiny shuffle after partial agg.
    Q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1 - l_discount AS DECIMAL(4,2))
        |      * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumD(sum(dec2(col("l_quantity")))).as("sum_qty"),
          sumD(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
          sumD(sum(dec2(col("l_extendedprice"))
            * (lit(1) - col("l_discount")).cast("decimal(4,2)"))).as("sum_disc_price"),
          sumD(sum(dec2(col("l_extendedprice"))
            * (lit(1) - col("l_discount")).cast("decimal(4,2)")
            * (lit(1) + col("l_tax")).cast("decimal(4,2)"))).as("sum_charge"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- 3-way join + agg + top-k (TPC-H Q3 shape) ----
    // customer is dimension-sized → broadcast; orders⋈lineitem is the one
    // unavoidable shuffle and joins on the natural key both sides.
    Q("q02_topk_revenue",
      s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
         |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
         |      * CAST(1 - l_discount AS DECIMAL(4,2))) AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '$CUTOFF'
         |  AND l_shipdate > TIMESTAMP '$CUTOFF'
         |GROUP BY o_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderkey
         |LIMIT 10""".stripMargin) { (s, dir) =>
      val cut = lit(CUTOFF).cast("timestamp")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cut)
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec2(col("l_extendedprice"))
          * (lit(1) - col("l_discount")).cast("decimal(4,2)")).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- broadcast hash join against a dim table ----
    Q("q03_broadcast_join",
      """SELECT p_brand,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'PROMO'
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin) { (s, dir) =>
      val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), sumD(sum(dec2(col("l_quantity")))).as("sum_qty"))
        .orderBy(col("p_brand"))
    },

    // ---- left-semi join (EXISTS) ----
    Q("q04_semi_join",
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem").filter(col("l_quantity") >= 48)
      t(s, dir, "orders")
        .join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- left-anti join (NOT EXISTS) ----
    Q("q05_anti_join",
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01 00:00:00").cast("timestamp"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- left outer join preserving unmatched rows ----
    Q("q06_outer_join",
      """SELECT c_mktsegment,
        |  count(*) AS n_customers,
        |  CAST(sum(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_no_orders,
        |  max(n_orders) AS max_orders
        |FROM (
        |  SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey, c_mktsegment)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") === 0, 1).otherwise(0)).cast("long").as("n_no_orders"),
          max(col("n_orders")).as("max_orders"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- full outer join of two aggregates ----
    Q("q07_full_outer_join",
      """SELECT nationkey,
        |  CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |  CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |      FROM customer GROUP BY c_nationkey) a
        |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |           FROM supplier GROUP BY s_nationkey) b USING (nationkey)
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      val cn = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, Seq("nationkey"), "full")
        .select(
          col("nationkey"),
          coalesce(col("n_cust"), lit(0)).cast("long").as("n_cust"),
          coalesce(col("n_supp"), lit(0)).cast("long").as("n_supp"))
        .orderBy(col("nationkey"))
    },

    // ---- cross join (bounded sides only — 5×5 here) ----
    Q("q08_cross_join",
      """SELECT a.r_name AS r1, b.r_name AS r2
        |FROM region a CROSS JOIN region b
        |ORDER BY r1, r2""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "region").select(col("r_name").as("r1"))
      val b = t(s, dir, "region").select(col("r_name").as("r2"))
      a.crossJoin(b).orderBy(col("r1"), col("r2"))
    },

    // ---- theta join: equi key + non-equi residual predicate ----
    Q("q09_theta_join",
      """SELECT s_nationkey AS nationkey, count(*) AS n_pairs,
        |  round(avg(c_acctbal - s_acctbal), 2) AS avg_gap
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
        |GROUP BY s_nationkey
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      val sup = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      broadcast(sup).join(c,
          col("s_nationkey") === col("c_nationkey") && col("s_acctbal") < col("c_acctbal"))
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("c_acctbal") - col("s_acctbal")), 2).as("avg_gap"))
        .orderBy(col("nationkey"))
    },

    // ---- 6-way star join (TPC-H Q5 shape) ----
    // All dims broadcast; only orders⋈lineitem shuffles. At 100 TB the same
    // plan holds: region/nation/supplier stay broadcast-sized, AQE picks
    // shuffle-hash vs sort-merge for the fact-fact join.
    Q("q10_local_supplier_volume",
      """SELECT n_name,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1 - l_discount AS DECIMAL(4,2))) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec2(col("l_extendedprice"))
          * (lit(1) - col("l_discount")).cast("decimal(4,2)")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ---- distinct aggregation ----
    Q("q11_agg_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // ---- statistical aggregates ----
    Q("q12_agg_stats",
      """SELECT l_linestatus,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  round(var_samp(l_quantity), 4) AS var_qty
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"))
        .orderBy(col("l_linestatus"))
    },

    // ---- ROLLUP ----
    Q("q13_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumD(sum(dec2(col("l_quantity")))).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // ---- CUBE ----
    Q("q14_cube",
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumD(sum(dec2(col("o_totalprice")))).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },

    // ---- GROUPING SETS (SQL surface) ----
    Q("q15_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, dir) =>
      views(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    },

    // ---- exact percentiles / median ----
    Q("q16_percentiles",
      // Percentile targets are integer-valued (l_quantity ∈ 1..50) so the
      // interpolated result has ≤1 true decimal digit — round(,2) is then
      // immune to the engines' different interpolation formulas. Percentiles
      // over arbitrary doubles (e.g. prices) interpolate onto half-cent
      // boundaries where Spark/DuckDB legitimately differ in the last ulp.
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 2) AS p25_qty,
        |  round(quantile_cont(l_quantity, 0.5), 2) AS med_qty,
        |  round(quantile_cont(l_quantity, 0.9), 2) AS p90_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_quantity"), lit(0.25)), 2).as("p25_qty"),
          round(percentile(col("l_quantity"), lit(0.5)), 2).as("med_qty"),
          round(percentile(col("l_quantity"), lit(0.9)), 2).as("p90_qty"))
        .orderBy(col("l_returnflag"))
    },

    // ---- collect_set → sorted, comma-joined string ----
    // The set is emitted as a scalar string (not array<string>): the driver's
    // checker cannot hash array-typed cells. Same information, hashable shape.
    Q("q17_collect_set",
      """SELECT r_name,
        |  array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin) { (s, dir) =>
      t(s, dir, "region")
        .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(sort_array(collect_set(col("n_name"))), ",").as("nations"))
        .orderBy(col("r_name"))
    },

    // ---- window: per-group top-k via row_number ----
    Q("q18_window_topk",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    },

    // ---- window: running sum with an explicit ROWS frame ----
    Q("q19_window_running",
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- window: lag / lead ----
    Q("q20_window_lag_lead",
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |    CAST(lag(o_orderdate) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev,
        |  lead(o_orderkey) OVER w AS next_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast("long").as("days_since_prev"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- window: rank / dense_rank / ntile ----
    // NOTE: a global (unpartitioned) window is single-partition by design —
    // fine for a 2000-row dim table. The fact-table-scale version is
    // implemented as Skew.globalRowNumber (range-bucket + prefix-sum
    // stitch, no single-partition exchange; ScaleTechniquesSpec).
    Q("q21_window_rank",
      """SELECT p_partkey, p_retailprice,
        |  CAST(rank() OVER (ORDER BY p_retailprice DESC) AS INTEGER) AS price_rank,
        |  CAST(dense_rank() OVER (ORDER BY p_retailprice DESC) AS INTEGER) AS price_dense_rank,
        |  CAST(ntile(4) OVER (ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS quartile
        |FROM part
        |ORDER BY p_retailprice DESC, p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"),
          rank().over(Window.orderBy(col("p_retailprice").desc)).as("price_rank"),
          dense_rank().over(Window.orderBy(col("p_retailprice").desc)).as("price_dense_rank"),
          ntile(4).over(Window.orderBy(col("p_retailprice").desc, col("p_partkey"))).as("quartile"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
    },

    // ---- global sort + limit (top-k) ----
    // Spark plans orderBy+limit as TakeOrderedAndProject: per-partition
    // top-k then a k-row merge on the driver — no global sort at scale.
    Q("q22_sort_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 15""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(15)
    },

    // ---- set operations: INTERSECT / EXCEPT / UNION / UNION ALL ----
    Q("q23_set_ops",
      """WITH a AS (SELECT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |             AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'),
        |     b AS (SELECT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |             AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
        |SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM a UNION SELECT * FROM b)
        |UNION ALL
        |SELECT 'union_all' AS op, count(*) AS n FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      def yr(from: String, to: String) = o
        .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
                col("o_orderdate") < lit(to).cast("timestamp"))
        .select(col("o_custkey"))
      val a = yr("1995-01-01 00:00:00", "1996-01-01 00:00:00")
      val b = yr("1996-01-01 00:00:00", "1997-01-01 00:00:00")
      def cnt(df: DataFrame, opName: String) =
        df.agg(count(lit(1)).as("n")).select(lit(opName).as("op"), col("n"))
      cnt(a.except(b), "except")
        .unionByName(cnt(a.intersect(b), "intersect"))
        .unionByName(cnt(a.union(b).distinct(), "union"))
        .unionByName(cnt(a.union(b), "union_all"))
        .orderBy(col("op"))
    },

    // ---- string function battery ----
    Q("q24_string_funcs",
      """SELECT p_partkey,
        |  upper(p_name) AS up_name,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substr(p_name, 1, 4) AS name4,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  replace(p_name, ' ', '_') AS snake,
        |  lpad(p_brand, 10, '*') AS pad_brand,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  (p_name LIKE 'red%') AS is_red
        |FROM part
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("up_name"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 4).as("name4"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), " ", "_").as("snake"),
          lpad(col("p_brand"), 10, "*").as("pad_brand"),
          regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
          element_at(split(col("p_name"), " "), 1).as("first_word"),
          col("p_name").like("red%").as("is_red"))
        .orderBy(col("p_partkey"))
    },

    // ---- date/time function battery ----
    Q("q25_date_funcs",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  o_orderdate + INTERVAL 30 DAY AS plus30,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("qtr"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("plus30"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy(col("o_orderkey"))
    },

    // ---- math function battery ----
    Q("q26_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1 - l_discount), 6) AS net,
        |  round(abs(l_discount - 0.05), 4) AS disc_dev,
        |  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        |  CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k,
        |  round(sqrt(l_extendedprice), 4) AS price_sqrt,
        |  round(ln(l_extendedprice + 1), 6) AS price_ln,
        |  round(pow(l_quantity, 2), 1) AS qty_sq,
        |  l_orderkey % 7 AS mod7
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          // true value has ≤4 decimals (2dp price × 2dp discount) — rounding
          // at 6 keeps it exact, so both engines agree bit-for-bit; rounding
          // at 3 would sit exactly on half-way points and flake per-engine.
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("net"),
          round(abs(col("l_discount") - 0.05), 4).as("disc_dev"),
          floor(col("l_quantity")).cast("long").as("qty_floor"),
          ceil(col("l_extendedprice") / 1000).cast("long").as("price_k"),
          round(sqrt(col("l_extendedprice")), 4).as("price_sqrt"),
          round(log(col("l_extendedprice") + 1), 6).as("price_ln"),
          round(pow(col("l_quantity"), 2), 1).as("qty_sq"),
          (col("l_orderkey") % 7).as("mod7"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ---- array / higher-order function battery (embeddings) ----
    Q("q27_array_funcs",
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        |  round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_val,
        |  round(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm,
        |  CAST(length(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
          round(array_max(col("embedding")).cast("double"), 6).as("max_val"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")), 4).as("sq_norm"),
          size(filter(col("embedding"), _ > 0)).cast("long").as("n_pos"))
        .orderBy(col("vec_id"))
    },

    // ---- JSON extraction (the reference's parse+project path, S5/S6) ----
    // Spark exercises the real JSON path (get_json_object + from_json);
    // the oracle reproduces the value with a regexp so it does not depend
    // on DuckDB's json extension.
    Q("q28_json_extract",
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INTEGER) AS k_path,
        |  CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INTEGER) AS k_struct
        |FROM events
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_path"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k_struct"))
        .orderBy(col("event_id"))
    },

    // ---- unionByName over heterogeneous sources ----
    Q("q29_union_by_name",
      """SELECT kind, nationkey, count(*) AS n,
        |  CAST(sum(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM (
        |  SELECT 'cust' AS kind, c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
        |  UNION ALL
        |  SELECT 'supp' AS kind, s_nationkey AS nationkey, s_acctbal AS acctbal FROM supplier)
        |GROUP BY kind, nationkey
        |ORDER BY kind, nationkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").select(
        lit("cust").as("kind"), col("c_nationkey").as("nationkey"), col("c_acctbal").as("acctbal"))
      val sup = t(s, dir, "supplier").select(
        lit("supp").as("kind"), col("s_nationkey").as("nationkey"), col("s_acctbal").as("acctbal"))
      c.unionByName(sup)
        .groupBy(col("kind"), col("nationkey"))
        .agg(count(lit(1)).as("n"), sumD(sum(dec2(col("acctbal")))).as("total_bal"))
        .orderBy(col("kind"), col("nationkey"))
    },

    // ---- runtime bloom-filter join pruning (the beyond-broadcast dim) ----
    // The 100 TB regime q03's broadcast hint cannot reach: a SELECTIVE
    // dimension that has outgrown the broadcast threshold. Catalyst's
    // InjectRuntimeFilter builds a bloom filter over the filtered dim's
    // join keys and pushes a might_contain probe beneath the fact side's
    // shuffle, so non-matching fact rows die at the scan instead of
    // paying exchange + join. This query plans exactly that shape: a
    // child session (the clusterPairs rule — never mutate the caller's
    // SQLConf; Loops.child reuses it across runs) disables broadcast to
    // simulate the oversized dim and drops the application-side size
    // floor so the rule fires at test scale; RelationalSpec asserts the
    // bloom actually injects into the optimized plan AND that on/off
    // results are identical. Results
    // are exact either way — the bloom only prunes, the join verifies —
    // so the oracle is the plain join.
    Q("q198_runtime_filter_join",
      """SELECT o_orderpriority,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2
        |ORDER BY mon""".stripMargin) { (s, dir) =>
      val s2 = Loops.child(s, Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0"))
      val o = t(s2, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      t(s2, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).as("mon"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          sumD(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount")).cast("decimal(4,2)"))).as("revenue"))
        .orderBy(col("mon"))
    },

    // ---- DISTINCT projection (exact dedup on a projection) ----
    Q("q30_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) AS INTEGER) AS ship_yr
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus, ship_yr""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).as("ship_yr"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"), col("ship_yr"))
    },

    // ---- positional zip of two derived tables (PASTE JOIN parity) ----
    // ClickHouse's PASTE JOIN concatenates two result sets row-by-row in
    // their output order. Well-defined only under a stated total order on
    // each side, so both sides declare one — orders by key vs orders by
    // (price desc, key) — and the zip pairs each order with the
    // equally-ranked order by price. The naive shape is two
    // single-partition row_number windows; here both sides ride
    // Skew.globalRowNumber (the stitch), so the rank assignment scales
    // with bucket count and the zip itself is an ordinary shuffled
    // equi-join on rn. Output trimmed to the first 500 ranks AFTER the
    // join shape is built (the limit prunes via the rn predicate, it
    // does not change the operator).
    Q("q219_paste_join",
      """WITH a AS (SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders),
        |b AS (SELECT o_orderkey AS price_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT CAST(a.rn AS BIGINT) AS rn, a.o_orderkey,
        |  b.price_orderkey, b.o_totalprice
        |FROM a JOIN b USING (rn)
        |WHERE rn <= 500
        |ORDER BY rn""".stripMargin) { (s, dir) =>
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val a = graft.ops.Skew.globalRowNumber(
        t(s, dir, "orders").select(col("o_orderkey")),
        Seq(col("o_orderkey").asc), parts)
      val b = graft.ops.Skew.globalRowNumber(
        t(s, dir, "orders")
          .select(col("o_orderkey").as("price_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice").desc, col("price_orderkey").asc), parts)
      a.join(b, Seq("rn"))
        .filter(col("rn") <= 500)
        .select(col("rn"), col("o_orderkey"),
          col("price_orderkey"), col("o_totalprice"))
        .orderBy(col("rn"))
    }
  )
}
