package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational analytics core (SURVEY §2 block B).
  *
  * Demonstrates the generic query capability the reference exercises
  * through raw SQL over MySQL (joins, exists-subqueries, group-bys) —
  * expressed as declarative Spark plans so Catalyst pushes filters to
  * the parquet scan, broadcasts dimension tables, and keeps
  * aggregation map-side-partial.
  *
  * Oracle-parity conventions (see SURVEY §6): money/quantity doubles
  * are cast to DECIMAL(18,4) *before* aggregation so sums are exact and
  * order-independent (any partitioning gives the same bits), then cast
  * back to double and rounded; every output column is aliased; every
  * query ends in a deterministic ORDER BY.
  */
object Tpch {

  /** Decimal-exact view of a money/quantity column. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  private def money(c: Column): Column = round(c.cast("double"), 2)

  /** TPC-H Q1: pricing summary. One shuffle; partial aggregation
    * map-side; filter pushed to the scan. */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        money(sum(dec($"l_quantity"))).as("sum_qty"),
        money(sum(dec($"l_extendedprice"))).as("sum_base_price"),
        money(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")))).as("sum_disc_price"),
        money(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")) * (lit(1).cast(DecimalType(18, 4)) + dec($"l_tax")))).as("sum_charge"),
        round(sum(dec($"l_quantity")).cast("double") / count(lit(1)), 6).as("avg_qty"),
        round(sum(dec($"l_extendedprice")).cast("double") / count(lit(1)), 6).as("avg_price"),
        round(sum(dec($"l_discount")).cast("double") / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_charge,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price,
      |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3: shipping priority. Customer filter broadcast into the
    * orders join; top-k via orderBy+limit → TakeOrderedAndProject (no
    * global sort materialization at scale). */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.read(spark, dir, "customer").filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.read(spark, dir, "orders").filter($"o_orderdate" < lit("1995-03-15"))
    val li = Tables.read(spark, dir, "lineitem").filter($"l_shipdate" > lit("1995-03-15"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(money(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")))).as("revenue"))
      .select($"l_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
        $"o_orderpriority", $"revenue")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  o_orderpriority,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q4: order priority checking — EXISTS as a left-semi join
    * (no row duplication, no distinct needed). */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.read(spark, dir, "orders")
      .filter($"o_orderdate" >= lit("1995-01-01") && $"o_orderdate" < lit("1995-10-01"))
    val li = Tables.read(spark, dir, "lineitem").filter($"l_shipdate" > lit("1995-02-01"))
    ord.join(li, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > TIMESTAMP '1995-02-01 00:00:00')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q5 (adapted to available columns): local supplier volume.
    * Star join — every dimension broadcast, the lineitem⋈orders join is
    * the only shuffle. Customer and supplier must share a nation. */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.read(spark, dir, "customer")
    val ord = Tables.read(spark, dir, "orders")
      .filter($"o_orderdate" >= lit("1994-01-01") && $"o_orderdate" < lit("1996-01-01"))
    val li = Tables.read(spark, dir, "lineitem")
    val sup = Tables.read(spark, dir, "supplier")
    val nat = Tables.read(spark, dir, "nation")
    val reg = Tables.read(spark, dir, "region")

    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(money(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")))).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q5Sql: String =
    """SELECT n_name,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q6: forecasting revenue change — the pushdown showcase.
    * All three predicates reach the parquet scan (PushedFilters). */
  def q6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1994-01-01") && $"l_shipdate" < lit("1995-01-01") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(money(sum(dec($"l_extendedprice") * dec($"l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q6Sql: String =
    """SELECT
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q18: large-volume customers — aggregate, filter on the
    * aggregate (HAVING), join the qualifying key set back. The
    * qualifying set is tiny → broadcast back into the join. */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, dir, "lineitem")
    val big = li.groupBy($"l_orderkey")
      .agg(sum(dec($"l_quantity")).as("q"))
      .filter($"q" > 150)
      .select($"l_orderkey".as("big_orderkey"))
    val ord = Tables.read(spark, dir, "orders")
    val cust = Tables.read(spark, dir, "customer")
    ord.join(broadcast(big), $"o_orderkey" === $"big_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(li, $"l_orderkey" === $"o_orderkey")
      .groupBy($"c_name", $"c_custkey", $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"), $"o_totalprice")
      .agg(money(sum(dec($"l_quantity"))).as("sum_qty"))
      .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        money($"o_totalprice").as("o_totalprice"), $"sum_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  val q18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 150)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY round(CAST(o_totalprice AS DOUBLE), 2) DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q10 (adapted): returned-item reporting — which customers
    * returned the most revenue. 3-way join, customer broadcast, top-20
    * via TakeOrderedAndProject. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, dir, "lineitem").filter($"l_returnflag" === "R")
    val ord = Tables.read(spark, dir, "orders")
      .filter($"o_orderdate" >= lit("1995-01-01") && $"o_orderdate" < lit("1996-01-01"))
    val cust = Tables.read(spark, dir, "customer")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name", $"c_nationkey")
      .agg(money(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")))).as("revenue"),
        round(avg($"c_acctbal"), 2).as("c_acctbal"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, c_nationkey,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
      |  round(avg(c_acctbal), 2) AS c_acctbal
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY c_custkey, c_name, c_nationkey
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q12 (adapted): priority-class conditional aggregation —
    * CASE-based pivot counts inside one shuffle. */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1995-01-01") && $"l_shipdate" < lit("1996-01-01"))
    val ord = Tables.read(spark, dir, "orders")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_linestatus")
      .agg(
        sum(when($"o_orderpriority" === "1-URGENT" || $"o_orderpriority" === "2-HIGH", 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when($"o_orderpriority" =!= "1-URGENT" && $"o_orderpriority" =!= "2-HIGH", 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy($"l_linestatus")
  }

  val q12Sql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** TPC-H Q14 (adapted): promo revenue ratio — scalar CASE aggregate
    * over a broadcast part join. */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1995-01-01") && $"l_shipdate" < lit("1995-02-01"))
    val part = Tables.read(spark, dir, "part")
    val disc = dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount"))
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .agg(round(
        sum(when($"p_type" === "PROMO", disc).otherwise(lit(0).cast(DecimalType(18, 4))))
          .cast("double") * 100.0 /
          sum(disc).cast("double"), 6).as("promo_revenue_pct"))
  }

  val q14Sql: String =
    """SELECT round(
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
      |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0 /
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 6) AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-02-01 00:00:00'""".stripMargin

  /** TPC-H Q19 (adapted): disjunctive multi-column predicates — the
    * OR-of-ANDs shape that exercises filter pushdown and join
    * predicate splitting. */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, dir, "lineitem")
    val part = Tables.read(spark, dir, "part")
    li.join(broadcast(part), $"l_partkey" === $"p_partkey" && (
      ($"p_brand" === "Brand#13" && $"p_size".between(1, 5) && $"l_quantity".between(1, 11)) ||
      ($"p_brand" === "Brand#22" && $"p_size".between(1, 10) && $"l_quantity".between(10, 20)) ||
      ($"p_brand" === "Brand#25" && $"p_size".between(1, 15) && $"l_quantity".between(20, 30))))
      .agg(money(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19Sql: String =
    """SELECT
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** q20: distinct-count analytics — count(DISTINCT) per group
    * (Expand-based two-phase distinct aggregation, one extra shuffle
    * stage; the approximate HLL variant is `approx_count_distinct`
    * on the same plan when a 2% error is acceptable at scale). */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_items"))
      .orderBy($"l_returnflag")
  }

  val q20Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_suppliers,
      |  count(*) AS n_items
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q21 (adapted): combined EXISTS / NOT EXISTS — customers holding
    * open ('O') orders but no failed/final ('F') orders: a left-semi
    * join chained with a left-anti join, each pushable and
    * broadcast-able independently (the shape MySQL subqueries force
    * into nested loops). */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.read(spark, dir, "customer")
    val orders = Tables.read(spark, dir, "orders")
    val open = orders.filter($"o_orderstatus" === "O").select($"o_custkey")
    val failed = orders.filter($"o_orderstatus" === "F").select($"o_custkey")
    cust.join(open, $"c_custkey" === open("o_custkey"), "left_semi")
      .join(failed, $"c_custkey" === failed("o_custkey"), "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        round(avg($"c_acctbal"), 4).as("avg_acctbal"))
      .orderBy($"c_mktsegment")
  }

  val q21Sql: String =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  round(avg(c_acctbal), 4) AS avg_acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q22: ROLLUP aggregation — subtotal/grand-total levels in one
    * Expand-based pass (one shuffle for all grouping sets; the
    * classic OLAP reporting shape). */
  def q22Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        money(sum(dec($"l_extendedprice"))).as("sum_price"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"n_items", $"sum_price")
      .orderBy("returnflag", "linestatus")
  }

  val q22Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n_items,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** q26: CUBE aggregation — every grouping-set combination of
    * (priority, status) plus both one-dimension margins and the grand
    * total, in ONE Expand-based pass (a single shuffle carries all
    * 2^k grouping sets; the hand-written alternative is 4 scans + a
    * union). Completes the grouping-set family next to q22's ROLLUP
    * and q23's pivot. */
  def q26Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "orders")
      .cube($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec($"o_totalprice"))).as("sum_total"))
      .select(coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        $"n_orders", $"sum_total")
      .orderBy("priority", "status")
  }

  val q26Sql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |  coalesce(o_orderstatus, 'ALL') AS status,
      |  count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_total
      |FROM orders
      |GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** q28: explicit GROUPING SETS — the general form q22's ROLLUP and
    * q26's CUBE are special cases of, on a MIXED dimension list
    * ((returnflag, linestatus), (ship_year), ()) that neither prefix
    * rollup nor full cube produces: the detail breakdown, an
    * orthogonal yearly margin, and the grand total in ONE Expand-based
    * pass — one shuffle carries all three sets; the hand-written
    * alternative is three scans + a union. */
  def q28GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "lineitem")
      .withColumn("ship_year", year($"l_shipdate"))
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"ship_year"), Seq()),
        $"l_returnflag", $"l_linestatus", $"ship_year")
      .agg(count(lit(1)).as("n_items"),
        money(sum(dec($"l_extendedprice"))).as("sum_price"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        coalesce($"ship_year".cast("string"), lit("ALL")).as("ship_year"),
        $"n_items", $"sum_price")
      .orderBy("returnflag", "linestatus", "ship_year")
  }

  val q28Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  coalesce(CAST(year(l_shipdate) AS VARCHAR), 'ALL') AS ship_year,
      |  count(*) AS n_items,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (year(l_shipdate)), ())
      |ORDER BY returnflag, linestatus, ship_year""".stripMargin

  /** q23: pivot — returnflag × linestatus count matrix (Spark's
    * `pivot` with an explicit value list stays a single Expand+agg
    * pass; the explicit list is what keeps it one job at scale —
    * implicit pivot values would add a distinct-scan). */
  def q23Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .select($"l_returnflag",
        coalesce($"F", lit(0L)).as("n_f"),
        coalesce($"O", lit(0L)).as("n_o"))
      .orderBy("l_returnflag")
  }

  val q23Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q24: correlated-scalar-subquery shape — orders above their own
    * customer's average order value. Decorrelated into one aggregate
    * + an equi-join (what Catalyst's RewriteCorrelatedScalarQuery does
    * to the SQL form); the per-customer average is decimal-exact so
    * the > comparison is partition-stable. */
  def q24AboveAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.read(spark, dir, "orders")
    val avgByCust = orders.groupBy($"o_custkey".as("ac_custkey"))
      .agg(sum(dec($"o_totalprice")).as("total_price"), count(lit(1)).as("n_orders"))
    orders.join(avgByCust, $"o_custkey" === $"ac_custkey")
      // cross-multiplied comparison: price > total/n ⇔ price*n > total —
      // exact decimal×integer arithmetic on both engines, no division
      // rounding at the boundary
      .filter(dec($"o_totalprice") * $"n_orders" > $"total_price")
      // expose the exact total+count rather than the divided average:
      // round(total/n) lands on half-boundaries where Spark (HALF_UP on
      // the shortest decimal repr) and DuckDB (scaled-double rounding)
      // legitimately disagree in the last digit
      .select($"o_orderkey", $"o_custkey", money($"o_totalprice").as("o_totalprice"),
        money($"total_price").as("cust_total"), $"n_orders")
  }

  val q24Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
      |  round(CAST(total_price AS DOUBLE), 2) AS cust_total, n_orders
      |FROM orders o JOIN (
      |  SELECT o_custkey AS ac_custkey,
      |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS total_price,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY o_custkey) a
      |ON o.o_custkey = a.ac_custkey
      |WHERE CAST(o_totalprice AS DECIMAL(18,4)) * n_orders > total_price
      |ORDER BY o_orderkey""".stripMargin

  /** TPC-H Q13 shape: customer order-count distribution — the OUTER
    * join + two-level aggregation histogram (customers with zero
    * orders must appear in the 0 bucket, which an inner join silently
    * drops). Both aggregations shuffle once; the second input is one
    * row per customer. */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.read(spark, dir, "customer")
    val ord = Tables.read(spark, dir, "orders")
      .filter($"o_orderpriority" =!= "1-URGENT")
    val counts = cust.join(ord, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count")) // count skips nulls → 0 bucket
    counts.groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q13Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) c
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15 shape: top supplier(s) by quarterly revenue — an
    * aggregate compared against the MAX of the same aggregate. The max
    * rides a single-row broadcast join (no second scan pass at scale:
    * the revenue aggregate is computed once and reused under AQE). */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.read(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01") && $"l_shipdate" < lit("1996-04-01"))
      .groupBy($"l_suppkey")
      .agg(money(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")))).as("total_revenue"))
    val mx = rev.agg(max($"total_revenue").as("max_revenue"))
    Tables.read(spark, dir, "supplier")
      .join(rev, $"s_suppkey" === $"l_suppkey")
      .join(broadcast(mx), $"total_revenue" === $"max_revenue")
      .select($"s_suppkey", $"s_name", $"total_revenue")
  }

  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q16 shape (adapted: no partsupp table in the testdata):
    * supplier diversity per part attribute with a NOT-IN exclusion —
    * distinct suppliers per (p_brand, p_size) from lineitem, excluding
    * negative-balance suppliers. NOT IN = broadcast anti-join (never a
    * per-row subquery). */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val excluded = Tables.read(spark, dir, "supplier")
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    val part = Tables.read(spark, dir, "part")
    Tables.read(spark, dir, "lineitem")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(excluded), $"l_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_size")
  }

  val q16Sql: String =
    """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  /** TPC-H Q17 shape: small-quantity-order revenue — each lineitem
    * compared against 20% of ITS part's average quantity. The
    * correlated subquery becomes one aggregate + an equi-join;
    * the threshold comparison is cross-multiplied (5·q·n < sum) so the
    * boundary is exact integer/decimal arithmetic on both engines. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, dir, "lineitem")
    val avgQ = li.groupBy($"l_partkey".as("a_partkey"))
      .agg(sum(dec($"l_quantity")).as("sum_qty"), count(lit(1)).as("n_qty"))
    li.join(avgQ, $"l_partkey" === $"a_partkey")
      // l_quantity < 0.2 * (sum/n)  ⇔  5·q·n < sum (exact, no division)
      .filter(dec($"l_quantity") * 5 * $"n_qty" < $"sum_qty")
      .agg(money(sum(dec($"l_extendedprice"))).as("total_extprice"),
        count(lit(1)).as("n_lines"))
  }

  val q17Sql: String =
    """SELECT
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_extprice,
      |  count(*) AS n_lines
      |FROM lineitem l JOIN (
      |  SELECT l_partkey AS a_partkey,
      |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty, count(*) AS n_qty
      |  FROM lineitem GROUP BY l_partkey) a
      |ON l.l_partkey = a.a_partkey
      |WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * n_qty < sum_qty""".stripMargin

  /** TPC-H Q7 shape: volume shipping between two nations — the
    * double-role dimension join (nation joined TWICE, as supplier
    * nation and customer nation) with a symmetric pair filter and a
    * per-year rollup. Both nation sides broadcast; one shuffle for
    * the final (pair, year) aggregation. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n1 = Tables.read(spark, dir, "nation")
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    val n2 = Tables.read(spark, dir, "nation")
      .select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
    Tables.read(spark, dir, "lineitem")
      .join(Tables.read(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.read(spark, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.read(spark, dir, "customer")), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"sn_key")
      .join(broadcast(n2), $"c_nationkey" === $"cn_key")
      // cross-border shipments only (TPC-H Q7 pins one nation pair;
      // the sf0.001 smoke corpus has just 10 suppliers, so a fixed
      // pair can be legitimately empty — the all-pairs form keeps the
      // same double-role join shape and is never vacuous)
      .filter($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
      // revenue ×10⁴ as an exact BIGINT: 2dp×2dp products have ≤4 dp,
      // so the scaled sum is integral — no round() half-boundary where
      // Spark and DuckDB legitimately disagree (the t1/t2 lesson)
      .agg((sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount"))) * 10000)
        .cast("long").as("revenue_e4"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) * 10000 AS BIGINT) AS revenue_e4
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8 shape: market share — a conditional aggregate against
    * the total aggregate per year, both in one pass (no second scan,
    * no self-join). The share is exposed as the exact decimal pair
    * (nation_revenue_e4, total_revenue_e4) ×10⁴ as exact BIGINTs
    * rather than their quotient: the division's (and round's) last
    * digit is engine-dependent, the scaled sums are integral and
    * bit-exact on both. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n1 = Tables.read(spark, dir, "nation")
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    Tables.read(spark, dir, "lineitem")
      .join(Tables.read(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.read(spark, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n1), $"s_nationkey" === $"sn_key")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(
        (sum(when($"supp_nation" === "NATION_3",
          dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")))
          .otherwise(lit(0).cast(DecimalType(18, 4)))) * 10000).cast("long").as("nation_revenue_e4"),
        (sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount"))) * 10000)
          .cast("long").as("total_revenue_e4"))
      .orderBy("o_year")
  }

  val q8Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CASE WHEN n_name = 'NATION_3'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT) AS nation_revenue_e4,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) * 10000 AS BIGINT) AS total_revenue_e4
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** TPC-H Q9 shape (adapted: no partsupp, so supply cost is the
    * deterministic stand-in 0.6·p_retailprice): product-line profit
    * per supplier nation per year, parts filtered by name. All money
    * math in scaled LONGS (e2 inputs → e4 amounts): per-row amount =
    * ext_e2·(100−disc_e2) − 60·retail_e2·qty, integral and exact on
    * both engines — chained DECIMAL products would trip Spark's
    * precision-loss scale reduction (and DuckDB's different decimal
    * promotion rules). The oracle wraps each scaled cast in trunc():
    * Spark's decimal→long cast TRUNCATES while DuckDB's rounds, so
    * without it sub-cent prices or fractional quantities in future
    * testdata would introduce silent per-row off-by-ones (current
    * data is exactly 2-dp / integral — verified at all three sfs). */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e2: Column => Column = c => (dec(c) * 100).cast("long")
    val part = Tables.read(spark, dir, "part").filter($"p_name".contains("widget"))
    val n1 = Tables.read(spark, dir, "nation")
      .select($"n_nationkey".as("sn_key"), $"n_name".as("nation"))
    Tables.read(spark, dir, "lineitem")
      .join(Tables.read(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(Tables.read(spark, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n1), $"s_nationkey" === $"sn_key")
      .groupBy($"nation", year($"o_orderdate").as("o_year"))
      .agg(sum(e2($"l_extendedprice") * (lit(100L) - e2($"l_discount")) -
        lit(60L) * e2($"p_retailprice") * dec($"l_quantity").cast("long")).as("profit_e4"))
      .orderBy($"nation", $"o_year".desc)
  }

  val q9Sql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(
      |    CAST(trunc(CAST(l_extendedprice AS DECIMAL(18,4)) * 100) AS BIGINT)
      |      * (100 - CAST(trunc(CAST(l_discount AS DECIMAL(18,4)) * 100) AS BIGINT))
      |    - 60 * CAST(trunc(CAST(p_retailprice AS DECIMAL(18,4)) * 100) AS BIGINT)
      |      * CAST(trunc(CAST(l_quantity AS DECIMAL(18,4))) AS BIGINT)) AS BIGINT) AS profit_e4
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  /** j1: skew-safe salted join — same result as the plain equi-join
    * (the oracle is the plain join), but hot keys are spread across
    * salt buckets so no task drowns. */
  def j1SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.read(spark, dir, "orders")
    val cust = Tables.read(spark, dir, "customer")
    graft.operators.Skew.saltedJoin(orders, "o_custkey", cust, "c_custkey",
        buckets = 8, saltSrc = $"o_orderkey")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec($"o_totalprice"))).as("total"))
      .orderBy($"c_nationkey")
  }

  val j1Sql: String =
    """SELECT c_nationkey, count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** j2: JOIN-KEY SKEW AUDIT — the diagnostic j1's salted join (and
    * `Orchestrator.saltedFks`) is tuned from: the top-10 heaviest
    * join keys with their share of the fact table, their ratio to
    * the mean key weight, and the salt-bucket count that would level
    * them (`ceil(cnt / mean)` — the number of mean-sized tasks a hot
    * key must be split into). At 100 TB this is the query a team runs
    * BEFORE the big join: a key with ratio_mean_e6 ≫ 1e6 is a
    * straggler task in the plain join and the argument for
    * `saltedJoin(buckets = salt_buckets)`.
    *
    * Shape: one map-side-combined count per key — the only data-sized
    * shuffle, and the key frame is MATERIALIZED once (Indexes.memo)
    * so the 1-row stats aggregate and the top-k both read the cached
    * copy rather than re-scanning the fact table (the naive
    * formulation planned TWO full scans + two key shuffles); the
    * top-k plans as TakeOrdered — never a full sort. All ratios are
    * exact ×1e6 integers (halfUpDiv); mean key weight is the floor
    * integer mean (≥1), so every emitted number is bit-identical
    * across engines and long-safe at 100 TB (cnt·1e6 ≤ ~1e16). */
  def j2SkewAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val kc = graft.operators.Indexes.memo(s"j2_keycounts:$dir") {
      Tables.read(spark, dir, "orders")
        .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
    }
    val stats = kc.agg(sum($"cnt").as("total"), count(lit(1)).as("n_keys"))
      .select($"total", $"n_keys",
        greatest(lit(1L), expr("total div n_keys")).as("mean_cnt"))
    kc.crossJoin(broadcast(stats))
      .orderBy($"cnt".desc, $"o_custkey")
      .limit(10)
      .select($"o_custkey", $"cnt", $"n_keys",
        halfUp($"cnt" * 1000000L, $"total").as("share_e6"),
        halfUp($"cnt" * 1000000L, $"mean_cnt").as("ratio_mean_e6"),
        expr("(cnt + mean_cnt - 1) div mean_cnt").as("salt_buckets"))
      .orderBy($"cnt".desc, $"o_custkey")
  }

  /** j2 oracle: same key counts, stats and top-10; half-up division
    * spelled `(2n+d)//(2d)` (all quantities non-negative). */
  val j2Sql: String =
    """WITH kc AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1),
      |st AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    greatest(1, CAST(sum(cnt) AS BIGINT) // count(*)) AS mean_cnt
      |  FROM kc)
      |SELECT o_custkey, CAST(cnt AS BIGINT) AS cnt, n_keys,
      |  CAST((2*cnt*1000000 + total) // (2*total) AS BIGINT) AS share_e6,
      |  CAST((2*cnt*1000000 + mean_cnt) // (2*mean_cnt) AS BIGINT) AS ratio_mean_e6,
      |  CAST((cnt + mean_cnt - 1) // mean_cnt AS BIGINT) AS salt_buckets
      |FROM kc, st
      |ORDER BY cnt DESC, o_custkey LIMIT 10""".stripMargin

  /** j3: BLOOM-PREFILTERED JOIN — urgent-order revenue by month, with
    * the fact table pre-filtered through an explicit Bloom filter of
    * the qualifying order keys BEFORE the join. This is the runtime
    * semi-join-reduction pattern (Bloom-join; what Spark's own
    * InjectRuntimeFilter rule does when it fires) built from plain
    * DataFrame ops, for when the optimizer's heuristics pass on it:
    * at 100 TB the bloom (32 KB here: 2^18 bits, 3 probes) broadcasts
    * to every executor and drops ~80% of lineitem ROWS BEFORE the
    * join shuffle — the shuffle is the cost the filter exists to cut.
    * False positives pass the bloom and die in the exact join, so the
    * result is IDENTICAL to the plain join — the oracle is exactly
    * that (the e9 convention: same answer, better plan), and the spec
    * separately pins that the bloom actually prunes.
    *
    * Bits are xxhash64-derived (k=3 salted probes; no cross-engine
    * parity needed — the bloom never changes the answer, so the hash
    * only has to be deterministic). The bitset is built as a DENSE
    * long array (bit_or per 64-bit word, then a range join fills
    * empty words) because element_at on an ARRAY is O(1) while a map
    * lookup is a linear scan — e10's GetMapValue lesson. Whole-stage
    * codegen keeps the 3 probes inside the scan's pipeline. */
  private def j3Urgent(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderdate")
  }

  /** The bloom-passed lineitem slice — exposed so the spec can pin
    * that the filter PRUNES (pass count strictly between the exact
    * match count and the table size) rather than silently passing
    * everything. */
  private[graft] def j3Prefiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mBits = 1L << 18
    val salts = 0 until 3
    val urgent = j3Urgent(spark, dir)
    def probe(key: Column, j: Int): Column =
      pmod(xxhash64(lit(s"bl$j"), key), lit(mBits))
    val words = urgent
      .select(explode(array(salts.map(j => probe($"o_orderkey", j)): _*)).as("pos"))
      .groupBy(expr("pos DIV 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, int(pos % 64)))").as("v"))
    val bloom = spark.range(mBits / 64).select($"id".as("w"))
      .join(words, Seq("w"), "left")
      .agg(array_sort(collect_list(struct($"w", coalesce($"v", lit(0L)).as("v")))).as("e"))
      .select(transform($"e", x => x.getField("v")).as("bits"))
    val li = Tables.read(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val withPos = salts.foldLeft(li.crossJoin(broadcast(bloom))) { (df, j) =>
      df.withColumn(s"pos$j", probe($"l_orderkey", j))
    }
    val pass = salts.map(j => expr(
        s"(element_at(bits, int(pos$j DIV 64) + 1) & shiftleft(1L, int(pos$j % 64))) != 0"))
      .reduce(_ && _)
    withPos.filter(pass)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
  }

  def j3BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    j3Prefiltered(spark, dir)
      .join(j3Urgent(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).cast("long").as("ym"))
      .agg(money(sum(dec($"l_extendedprice") *
          (lit(1).cast(DecimalType(18, 4)) - dec($"l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("ym")
  }

  /** j3 oracle: the PLAIN join — the bloom is pure plan optimization
    * (false positives die in the exact join), so the answers must be
    * bit-identical. */
  val j3Sql: String =
    """SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT) AS ym,
      |  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
      |    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY 1
      |ORDER BY ym""".stripMargin

  /** Top-k per group: 3 most valuable orders per customer — single
    * shuffle on the window partition key. */
  def w1TopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.read(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"o_custkey", $"o_orderkey", money($"o_totalprice").as("o_totalprice"), $"rk")
  }

  val w1Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice, rk
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  /** Running total of order value per customer over time — cumulative
    * window (rowsBetween unbounded preceding). */
  def w2RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.read(spark, dir, "orders")
      .withColumn("running_total", money(sum(dec($"o_totalprice")).over(w)))
      .select($"o_custkey", $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"), $"running_total")
  }

  val w2Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** w3: 7-day moving average per customer — RANGE frame over an
    * integer day offset (value-based frame, peers included; distinct
    * from w2's ROWS frame). Decimal-exact numerator so the frame
    * accumulation order can't produce float drift vs the oracle. */
  def w3MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val day = datediff($"o_orderdate", lit("1995-01-01"))
    val w = Window.partitionBy($"o_custkey").orderBy($"day")
      .rangeBetween(-7, Window.currentRow)
    Tables.read(spark, dir, "orders")
      .withColumn("day", day.cast("long"))
      .withColumn("avg7", round(
        sum(dec($"o_totalprice")).over(w).cast("double") /
          count(lit(1)).over(w), 6))
      .select($"o_custkey", $"o_orderkey", $"day", $"avg7")
  }

  val w3Sql: String =
    """SELECT o_custkey, o_orderkey, day,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) /
      |        count(*) OVER w, 6) AS avg7
      |FROM (SELECT *, CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS day
      |      FROM orders) t
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
      |             RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, day, o_orderkey""".stripMargin

  /** w7: PERIOD-OVER-PERIOD — per-nation monthly order revenue with
    * the month-over-month delta and ×1e6 percent change (lag window),
    * the standard trend report every revenue dashboard runs. First
    * month per nation is dropped (no prior period — emitting a
    * NULL-delta row would poison downstream alert thresholds).
    *
    * Scale shape: the fact table aggregates to a (nation, month)
    * frame FIRST (one map-side-combined shuffle; nations × months is
    * metadata-sized), so the lag window sorts only that tiny frame —
    * never fact rows. Nation rides a broadcast; customer→orders is
    * the one data-sized equi-join (both sides shuffle on custkey).
    * Money stays in integer cents (one IEEE round per order, exact
    * both engines). The signed percent is sign × halfUp(|delta|)
    * (round half AWAY from zero): halfUpDiv's pmod form FLOORS while
    * DuckDB's `//` TRUNCATES, so they disagree on negative numerators
    * — routing through abs keeps every division non-negative, where
    * the two are identical. The half-up itself runs in 128-bit
    * (DECIMAL(38,0) DIV on the Spark side, HUGEINT `//` in the
    * oracle): the long form's 2·|Δ|·1e6 numerator overflows at
    * |Δ| > ~4.6e12 cents — reachable for a monthly national rollup
    * at target scale (g7's overflow-class, same round). */
  def w7MomChange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nations = Tables.read(spark, dir, "nation").select($"n_nationkey", $"n_name")
    val cust = Tables.read(spark, dir, "customer").select($"c_custkey", $"c_nationkey")
    val monthly = Tables.read(spark, dir, "orders")
      .select($"o_custkey", $"o_totalprice", $"o_orderdate")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nations), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", (year($"o_orderdate") * 100 + month($"o_orderdate"))
        .cast("long").as("ym"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev_cents"))
    val w = Window.partitionBy($"n_name").orderBy($"ym")
    monthly.withColumn("prev_cents", lag($"rev_cents", 1).over(w))
      .filter($"prev_cents".isNotNull)
      .withColumn("delta_cents", $"rev_cents" - $"prev_cents")
      .select($"n_name", $"ym", $"rev_cents", $"delta_cents",
        (when($"delta_cents" < 0L, -1L).otherwise(1L) *
          expr("CAST((2 * (CAST(abs(delta_cents) AS DECIMAL(38,0)) * 1000000)" +
            " + prev_cents) DIV (2 * prev_cents) AS BIGINT)"))
          .as("mom_pct_e6"))
      .orderBy("n_name", "ym")
  }

  /** w7 oracle: same monthly rollup + lag; the percent routes through
    * abs so `(2n+d)//(2d)` only ever divides non-negatives (DuckDB
    * `//` truncates, Spark's pmod form floors — equal only there),
    * and through HUGEINT to match the Spark side's 128-bit headroom. */
  val w7Sql: String =
    """WITH m AS (
      |  SELECT n.n_name, CAST(year(o.o_orderdate)*100 + month(o.o_orderdate) AS BIGINT) AS ym,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders o
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  GROUP BY 1, 2),
      |lg AS (
      |  SELECT n_name, ym, rev_cents,
      |    lag(rev_cents) OVER (PARTITION BY n_name ORDER BY ym) AS prev_cents
      |  FROM m)
      |SELECT n_name, ym, rev_cents,
      |  CAST(rev_cents - prev_cents AS BIGINT) AS delta_cents,
      |  CAST((CASE WHEN rev_cents < prev_cents THEN -1 ELSE 1 END)
      |    * CAST(((2*(CAST(abs(rev_cents - prev_cents) AS HUGEINT) * 1000000) + prev_cents)
      |       // (2*prev_cents)) AS BIGINT) AS BIGINT) AS mom_pct_e6
      |FROM lg WHERE prev_cents IS NOT NULL
      |ORDER BY n_name, ym""".stripMargin

  /** w8: SHARE OF TOTAL — each nation's slice of its year's revenue,
    * ×1e6 half-up integer: the composition companion to w7's
    * month-over-month delta (w7 answers "how fast is this nation
    * moving", w8 answers "how much of the pie is it"). Shares are
    * computed against the YEAR partition total via a window over the
    * ALREADY-AGGREGATED (year, nation) frame — at most
    * |years|·|nations| rows — never a windowed pass over fact rows
    * and never an unpartitioned window. rev_cents·1e6 passes 2⁶³ at
    * ~$92 B per nation-year, so the quotient stages through
    * DECIMAL(38,0) / HUGEINT (w7's convention).
    *
    * Scale shape: one fact-table shuffle for the rollup (customer and
    * nation broadcast), one tiny exchange for the year window. */
  def w8ShareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nations = Tables.read(spark, dir, "nation").select($"n_nationkey", $"n_name")
    val cust = Tables.read(spark, dir, "customer").select($"c_custkey", $"c_nationkey")
    val yearly = Tables.read(spark, dir, "orders")
      .select($"o_custkey", $"o_totalprice", $"o_orderdate")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nations), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").cast("long").as("yr"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev_cents"))
    val byYear = Window.partitionBy($"yr")
    yearly.withColumn("yr_total_cents", sum($"rev_cents").over(byYear))
      .select($"yr", $"n_name", $"rev_cents", $"yr_total_cents",
        expr("""CAST((2 * (CAST(rev_cents AS DECIMAL(38,0)) * 1000000) + yr_total_cents)
                |  DIV (2 * CAST(yr_total_cents AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
          .as("share_e6"))
      .orderBy("yr", "n_name")
  }

  /** w8 oracle: same rollup + year-partition window; HUGEINT half-up
    * on non-negative operands. */
  val w8Sql: String =
    """WITH y AS (
      |  SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders o
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  GROUP BY 1, 2),
      |t AS (
      |  SELECT yr, n_name, rev_cents,
      |    sum(rev_cents) OVER (PARTITION BY yr) AS yr_total_cents
      |  FROM y)
      |SELECT yr, n_name, rev_cents, CAST(yr_total_cents AS BIGINT) AS yr_total_cents,
      |  CAST((2 * (CAST(rev_cents AS HUGEINT) * 1000000) + yr_total_cents)
      |    // (2 * CAST(yr_total_cents AS HUGEINT)) AS BIGINT) AS share_e6
      |FROM t ORDER BY yr, n_name""".stripMargin

  /** q25: EXACT distributed percentiles (p50/p90/p99 of l_quantity per
    * return flag), percentile_disc semantics — smallest value whose
    * cumulative count reaches ceil(p·n).
    *
    * Scale shape: the naive plan (row_number per group over the fact
    * table) shuffles EVERY row onto 3 group keys — a giant-group sort
    * that dies at 100 TB. Instead: aggregate to a (group, value)
    * HISTOGRAM first (one map-side-combined shuffle; the histogram is
    * groups × distinct-values rows — metadata-sized for discrete or
    * bucketed metrics), then run the cumulative window and rank
    * selection on the tiny histogram. Rank arithmetic stays in exact
    * integers (ceil(p·n) = (p_num·n + p_den − 1) DIV p_den — no
    * double p·n at the boundary).
    *
    * DOMAIN CONTRACT ([[graft.operators.PrefixSum.quantize]]): the
    * histogram must be value-domain-bounded. l_quantity (1..50) is;
    * for a high-cardinality metric pass `valueQuantum > 1` to floor
    * values into domain/quantum buckets first — the result is then
    * the true percentile's bucket floor, within `quantum` of exact
    * (spec-pinned on price cents). Default 1 = exact, the oracle-
    * checked path. approx_percentile is the sketch alternative when
    * a rank-exact rule can yield. */
  def q25Quantiles(spark: SparkSession, dir: String,
                   valueQuantum: Long = 1L): DataFrame = {
    import spark.implicits._
    val hist = Tables.read(spark, dir, "lineitem")
      .groupBy($"l_returnflag".as("flag"),
        graft.operators.PrefixSum.quantize($"l_quantity", valueQuantum).as("q"))
      .agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy($"flag").orderBy($"q")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy($"flag")
    def pick(rank: Column) = min(when($"cum" >= rank, $"q")).cast("long")
    hist.withColumn("cum", sum($"cnt").over(cum))
      .withColumn("n", sum($"cnt").over(tot))
      .groupBy($"flag")
      .agg(max($"n").as("n_rows"),
        pick(expr("(n + 1) DIV 2")).as("p50"),
        pick(expr("(9 * n + 9) DIV 10")).as("p90"),
        pick(expr("(99 * n + 99) DIV 100")).as("p99"))
      .orderBy("flag")
  }

  val q25Sql: String =
    """WITH h AS (
      |  SELECT l_returnflag AS flag, l_quantity AS q, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT flag, q,
      |    sum(cnt) OVER (PARTITION BY flag ORDER BY q) AS cum,
      |    sum(cnt) OVER (PARTITION BY flag) AS n
      |  FROM h)
      |SELECT flag, CAST(max(n) AS BIGINT) AS n_rows,
      |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN q END) AS BIGINT) AS p50,
      |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN q END) AS BIGINT) AS p90,
      |  CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN q END) AS BIGINT) AS p99
      |FROM c GROUP BY flag ORDER BY flag""".stripMargin

  /** q32: MEDIAN ABSOLUTE DEVIATION of l_extendedprice (cents) per
    * return flag — the robust dispersion companion to q25's location
    * percentiles (stddev is hostage to the same outliers a robust
    * pipeline is trying to find; MAD is the estimator behind
    * robust-z outlier fences). percentile_disc semantics both
    * passes (smallest value whose cumulative count reaches
    * ⌈n/2⌉), exact in integer cents.
    *
    * Scale shape: the chained order statistic (median of |x −
    * median|) costs ONE fact scan, not two — pass 2 re-histograms
    * PASS 1'S HISTOGRAM (group sizes ride along), so everything past
    * the first rollup is histogram-sized: q25's histogram-first
    * convention applied twice, under q25's DOMAIN CONTRACT (cents are
    * domain-bounded; an unbounded metric quantizes first —
    * [[graft.operators.PrefixSum.quantize]]). */
  def q32Mad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the histogram is the shared base of pass 1, the deviation
    // re-histogram AND the final join-back — materialized once
    // (price-domain-bounded, never fact-sized) or lazy lineage
    // re-runs the fact scan per consumer
    val hist = graft.operators.State.cut(Tables.read(spark, dir, "lineitem")
      .groupBy($"l_returnflag".as("flag"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("cnt")))
    // shared exact disc-median kernel (IntMath.discMedianHist — one
    // rank formula for q32 AND t29)
    def discMedian(h: DataFrame, valCol: String): DataFrame =
      graft.functions.IntMath.discMedianHist(h, "flag", valCol)
        .withColumnRenamed("n", "n_rows")
    val med = discMedian(hist, "cents")
      .select($"flag", $"n_rows", $"med".as("median_cents"))
    val devHist = hist.join(med.select($"flag", $"median_cents"), Seq("flag"))
      .groupBy($"flag", abs($"cents" - $"median_cents").as("dev"))
      .agg(sum($"cnt").as("cnt"))
    discMedian(devHist, "dev")
      .select($"flag", $"med".as("mad_cents"))
      .join(med, Seq("flag"))
      .select($"flag", $"n_rows", $"median_cents", $"mad_cents")
      .orderBy("flag")
  }

  /** q32 oracle: the same two histogram-median passes (pass 2 over
    * pass 1's histogram). */
  val q32Sql: String =
    """WITH h AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |c1 AS (
      |  SELECT flag, cents,
      |    sum(cnt) OVER (PARTITION BY flag ORDER BY cents) AS cum,
      |    sum(cnt) OVER (PARTITION BY flag) AS n
      |  FROM h),
      |m1 AS (
      |  SELECT flag, CAST(max(n) AS BIGINT) AS n_rows,
      |    CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS BIGINT) AS median_cents
      |  FROM c1 GROUP BY flag),
      |dh AS (
      |  SELECT h.flag, abs(h.cents - m1.median_cents) AS dev, sum(h.cnt) AS cnt
      |  FROM h JOIN m1 ON m1.flag = h.flag GROUP BY 1, 2),
      |c2 AS (
      |  SELECT flag, dev,
      |    sum(cnt) OVER (PARTITION BY flag ORDER BY dev) AS cum,
      |    sum(cnt) OVER (PARTITION BY flag) AS n
      |  FROM dh),
      |m2 AS (
      |  SELECT flag,
      |    CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS BIGINT) AS mad_cents
      |  FROM c2 GROUP BY flag)
      |SELECT m1.flag, m1.n_rows, m1.median_cents, m2.mad_cents
      |FROM m1 JOIN m2 ON m2.flag = m1.flag
      |ORDER BY m1.flag""".stripMargin

  /** q33: PARETO / revenue-concentration audit — how much of total
    * revenue each customer-revenue decile holds (the "do 10% of
    * customers carry 80% of revenue" Lorenz table behind account
    * tiering and risk concentration). Deciles are by rank from the
    * top: decile 0 = the top 10% of customers by revenue.
    *
    * Scale shape: NO global sort of customers. Customers aggregate
    * once (one shuffle), then collapse to a (rev_cents → n_customers)
    * HISTOGRAM — but rev_cents is a per-customer SUM, so the histogram
    * is customer-cardinality, not domain-bounded: cumulative ranks go
    * through [[graft.operators.PrefixSum.blockCum]]'s two-level
    * exclusive prefix sum (t12's shape) instead of one global window —
    * the only unpartitioned windows left are the ≤#blocks offset frame
    * and the ≤10-row decile share. A whole value-group lands in the
    * decile of its first rank, deterministically. Share quotients
    * stage through DECIMAL(38,0)/HUGEINT (w7's convention). */
  def q33Pareto(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // memoized: blockCum's two consumers + the totals frame would
    // otherwise each re-derive the two-level orders aggregation
    val hist = graft.operators.Indexes.memo(s"q33_hist:$dir") {
      Tables.read(spark, dir, "orders")
        .groupBy($"o_custkey")
        .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev_cents"))
        .groupBy($"rev_cents").agg(count(lit(1)).as("n_cust"))
    }
    val tot = hist.agg(sum($"n_cust").as("n"),
      sum($"rev_cents" * $"n_cust").as("grand_cents"))
    graft.operators.PrefixSum.blockCum(hist, "rev_cents", "n_cust", "cum",
        descending = true)
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("((cum - n_cust) * 10) DIV n"))
      .groupBy($"decile")
      .agg(sum($"n_cust").as("n_customers"),
        sum($"rev_cents" * $"n_cust").as("rev_cents"),
        max($"grand_cents").as("grand_cents"))
      .select($"decile", $"n_customers", $"rev_cents",
        expr("""CAST((2 * (CAST(rev_cents AS DECIMAL(38,0)) * 1000000) + grand_cents)
                |  DIV (2 * CAST(grand_cents AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
          .as("share_e6"))
      .withColumn("cum_share_e6", sum($"share_e6").over(
        Window.orderBy($"decile").rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("decile")
  }

  /** q33 oracle: the same histogram-rank formation; HUGEINT shares. */
  val q33Sql: String =
    """WITH cr AS (
      |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY 1),
      |h AS (SELECT rev_cents, count(*) AS n_cust FROM cr GROUP BY 1),
      |c AS (
      |  SELECT rev_cents, n_cust,
      |    sum(n_cust) OVER (ORDER BY rev_cents DESC) AS cum,
      |    sum(n_cust) OVER () AS n,
      |    sum(rev_cents * n_cust) OVER () AS grand_cents
      |  FROM h),
      |d AS (
      |  SELECT ((cum - n_cust) * 10) // n AS decile,
      |    sum(n_cust) AS n_customers,
      |    sum(rev_cents * n_cust) AS rev_cents,
      |    max(grand_cents) AS grand_cents
      |  FROM c GROUP BY 1),
      |s AS (
      |  SELECT CAST(decile AS BIGINT) AS decile,
      |    CAST(n_customers AS BIGINT) AS n_customers,
      |    CAST(rev_cents AS BIGINT) AS rev_cents,
      |    CAST((2 * (CAST(rev_cents AS HUGEINT) * 1000000) + grand_cents)
      |      // (2 * CAST(grand_cents AS HUGEINT)) AS BIGINT) AS share_e6
      |  FROM d)
      |SELECT decile, n_customers, rev_cents, share_e6,
      |  CAST(sum(share_e6) OVER (ORDER BY decile) AS BIGINT) AS cum_share_e6
      |FROM s ORDER BY decile""".stripMargin

  /** TPC-H Q2's correlated-minimum shape over the synthetic schema
    * (no partsupp table → the observed supply cost is each supplier's
    * minimum sale price per part, from lineitem): for small parts
    * (p_size ≤ 5), every supplier whose per-part cost EQUALS the
    * part's global minimum — the classic "WHERE x = (SELECT min(...)
    * correlated)" decorrelated Spark-first: the per-(part, supplier)
    * aggregate + a window min over the part, then an equality filter.
    * No self-join, no subquery re-scan; the two shuffles (agg key,
    * then part key) are the irreducible decorrelation cost. min() of
    * doubles is a COMPARISON, not arithmetic — exact cross-engine. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.read(spark, dir, "lineitem")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"l_extendedprice").as("supply_cost"))
    val smallParts = Tables.read(spark, dir, "part")
      .filter($"p_size" <= 5).select($"p_partkey", $"p_brand", $"p_type")
    val nations = Tables.read(spark, dir, "nation")
      .select($"n_nationkey", $"n_name")
    val suppliers = Tables.read(spark, dir, "supplier")
      .join(broadcast(nations), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"n_name")
    val best = Window.partitionBy($"p_partkey")
    ps.join(broadcast(smallParts), $"l_partkey" === $"p_partkey")
      .withColumn("min_cost", min($"supply_cost").over(best))
      .filter($"supply_cost" === $"min_cost")
      .join(broadcast(suppliers), $"l_suppkey" === $"s_suppkey")
      .select($"p_partkey", $"p_brand", $"p_type", $"s_name", $"n_name",
        round($"supply_cost".cast("double"), 2).as("supply_cost"))
  }

  val q2Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
      |  FROM lineitem GROUP BY 1, 2),
      |w AS (
      |  SELECT ps.l_partkey, ps.l_suppkey, ps.supply_cost,
      |    min(ps.supply_cost) OVER (PARTITION BY ps.l_partkey) AS min_cost
      |  FROM ps JOIN part p ON p.p_partkey = ps.l_partkey AND p.p_size <= 5)
      |SELECT p.p_partkey, p.p_brand, p.p_type, s.s_name, n.n_name,
      |  round(w.supply_cost, 2) AS supply_cost
      |FROM w
      |JOIN part p ON p.p_partkey = w.l_partkey
      |JOIN supplier s ON s.s_suppkey = w.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE w.supply_cost = w.min_cost
      |ORDER BY p.p_partkey, s.s_name""".stripMargin

  /** TPC-H Q11's global-share HAVING shape: within one nation's
    * suppliers, the parts whose shipped volume exceeds a fixed
    * fraction (1/10000) of that nation's total volume — "HAVING
    * sum(...) > (SELECT sum(...) * fraction)". The audited nation is
    * supplier 1's home nation (a 1-row broadcast — Q11's scalar
    * subquery shape; a hardcoded name would be empty at small SFs).
    * The global total is likewise a SCALAR broadcast (crossJoin of a
    * 1-row aggregate) — never an unpartitioned window over the
    * per-part frame, which would single-thread parts-scale data at
    * 100 TB. Volumes are DECIMAL-exact sums; the threshold compare
    * is value·10000 > total, all in decimal — no float drift at any
    * scale. */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val supplier = Tables.read(spark, dir, "supplier")
    val homeNation = supplier.filter($"s_suppkey" === 1)
      .select($"s_nationkey".as("home_nk"))
    val suppIn = supplier
      .join(broadcast(homeNation), $"s_nationkey" === $"home_nk")
      .select($"s_suppkey")
    val perPart = Tables.read(spark, dir, "lineitem")
      .join(broadcast(suppIn), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey")
      .agg(sum(dec($"l_quantity")).as("value"))
    val total = perPart.agg(sum($"value").as("total"))
    perPart.crossJoin(broadcast(total))
      .filter($"value" * 10000 > $"total")
      .select($"l_partkey".as("p_partkey"),
        round($"value".cast("double"), 2).as("value"))
      .orderBy($"value".desc, $"p_partkey")
  }

  val q11Sql: String =
    """WITH s AS (
      |  SELECT s_suppkey FROM supplier
      |  WHERE s_nationkey = (SELECT s_nationkey FROM supplier WHERE s_suppkey = 1)),
      |pp AS (
      |  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS value
      |  FROM lineitem JOIN s ON s_suppkey = l_suppkey
      |  GROUP BY l_partkey),
      |t AS (SELECT sum(value) AS total FROM pp)
      |SELECT pp.l_partkey AS p_partkey,
      |  round(CAST(pp.value AS DOUBLE), 2) AS value
      |FROM pp, t
      |WHERE pp.value * 10000 > t.total
      |ORDER BY value DESC, p_partkey""".stripMargin

  /** q27: TPC-H Q22's pattern — the last of the classic query shapes
    * (scalar-subquery threshold + NOT EXISTS anti-join + rollup):
    * customers richer than the positive-balance average with no
    * URGENT-priority order, per nation (Q22's "no orders" has no
    * support in this testdata — every customer orders — so the
    * exclusion keys on the priority slice; the plan shape is
    * identical). The threshold is a 1-row scalar broadcast (q11's
    * shape) and the comparison is CROSS-MULTIPLIED into exact decimal
    * arithmetic (q17/q24's convention: avg = S/n as a double would
    * put the boundary on an engine-dependent division; bal·n > S is
    * exact on both engines). The anti-join shuffles on the customer
    * key — Q22's own scale shape; the orders side is a key-only
    * pruned scan with the priority filter pushed down. */
  def q27NoOrderRich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.read(spark, dir, "customer")
    val thr = cust.filter($"c_acctbal" > 0.0)
      .agg(sum(dec($"c_acctbal")).as("s"), count(lit(1)).as("cnt"))
    val urgent = Tables.read(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    cust.crossJoin(broadcast(thr))
      .filter(dec($"c_acctbal") * $"cnt" > $"s")
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        round(sum(dec($"c_acctbal")).cast("double"), 2).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  val q27Sql: String =
    """WITH t AS (
      |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) AS s, count(*) AS cnt
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_nationkey, count(*) AS numcust,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS totacctbal
      |FROM customer, t
      |WHERE CAST(c_acctbal AS DECIMAL(18,4)) * cnt > s
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** The fixed numeric column list q29 profiles — part of the query's
    * contract (the profiler is schema-driven, not data-sniffed). */
  private val ProfileCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_discount")

  /** q29: EXACT column profiling of the fact table — per column: row
    * count, null count, exact distinct count, min, max. The
    * data-quality gate every ingest runs before anything downstream
    * trusts the table (null-rate regression, key-cardinality drift,
    * out-of-range values).
    *
    * Shape: ONE scan. All 6 columns' aggregates ride a single
    * groupBy().agg(...) — Spark plans the multiple exact
    * count(DISTINCT)s as one Expand (×6 row multiplication, each
    * replica carrying ONE narrow column) with partial aggregation
    * below the exchange, which is precisely the exact-profile cost
    * floor at 100 TB: you cannot know exact cardinalities cheaper
    * than one deduplicating pass per column, and Expand shares the
    * scan where per-column queries would rescan the table 6 times.
    * (The approximate alternative — HLL sketches, no Expand — is
    * d12's KMV territory; a PROFILE must be exact.) The long-form
    * pivot at the end is a 1-row→6-row driver-free stack projection.
    * min/max surface as doubles: every profiled column is int64 or
    * double, and int64 keys here are ≪ 2^53 so the widening is
    * exact in both engines. */
  def q29Profile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, dir, "lineitem")
    val aggs = ProfileCols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        count_distinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("double").as(s"${c}__mn"),
        max(col(c)).cast("double").as(s"${c}__mx"))
    }
    val one = li.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = ProfileCols.map(c =>
      s"'$c', ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx").mkString(", ")
    one.select(col("__n").as("n_rows"),
        expr(s"stack(${ProfileCols.length}, $stackArgs) " +
          "AS (column_name, n_null, n_distinct, min_v, max_v)"))
      .select($"column_name", $"n_rows", $"n_null", $"n_distinct",
        $"min_v", $"max_v")
      .orderBy("column_name")
  }

  val q29Sql: String = {
    val perCol = ProfileCols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$perCol\nORDER BY column_name"
  }

  /** q30: EXACT equi-width histogram of `l_extendedprice` — q29's
    * shape companion (q29 profiles bounds/cardinality; this shows the
    * DISTRIBUTION between the bounds — the input to partition-size
    * planning, `maxPartitionBytes` tuning and skew triage on a value
    * column rather than j2's key column).
    *
    * Exactness discipline: prices are 2-decimal doubles, so rows are
    * first mapped to integer CENTS via `floor(v·100 + 0.5)` — one
    * IEEE multiply/add/floor, bit-identical in both engines — and ALL
    * binning is integer arithmetic from there: bin = (c−min)·10 div
    * (range+1), which lands max exactly in bin 9 with no clamp and
    * never touches a double→bin boundary. Two aggregates over the
    * scan (1-row min/max, then the binned groupBy with the stats
    * broadcast back; binning to 10 bins IS the quantization, so this
    * operator meets q25's DOMAIN CONTRACT by construction) — the
    * second pass is the price of EXACT global
    * bounds; a 100 TB deployment that tolerates approximate edges
    * can substitute fixed domain bounds and drop to one pass.
    * Empty bins don't emit (both engines agree). Bin edges surface as
    * the bin's ACTUAL min/max cents — data positions, not synthetic
    * edge arithmetic. share_e6 is an exact ×1e6 integer. */
  def q30Histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val cents = Tables.read(spark, dir, "lineitem")
      .select(floor($"l_extendedprice" * 100d + 0.5d).cast("long").as("c"))
    val stats = cents.agg(min($"c").as("min_c"), max($"c").as("max_c"),
      count(lit(1)).as("n_total"))
    cents.crossJoin(broadcast(stats))
      .select(expr("(c - min_c) * 10 div (max_c - min_c + 1)").as("bin"),
        $"c", $"n_total")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), min($"c").as("lo_cents"),
        max($"c").as("hi_cents"), max($"n_total").as("n_total"))
      .select($"bin", $"n", $"lo_cents", $"hi_cents",
        halfUp($"n" * 1000000L, $"n_total").as("share_e6"))
      .orderBy("bin")
  }

  /** q30 oracle: identical cents mapping and integer binning. */
  val q30Sql: String =
    """WITH c AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      |  FROM lineitem),
      |st AS (SELECT min(c) AS min_c, max(c) AS max_c,
      |              CAST(count(*) AS BIGINT) AS n_total FROM c),
      |b AS (
      |  SELECT (c.c - st.min_c) * 10 // (st.max_c - st.min_c + 1) AS bin,
      |         c.c, st.n_total
      |  FROM c, st)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
      |  min(c) AS lo_cents, max(c) AS hi_cents,
      |  CAST((2*count(*)*1000000 + max(n_total)) // (2*max(n_total)) AS BIGINT) AS share_e6
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** q31: HASH-SAMPLE QUANTILE CALIBRATION — exact global price
    * percentiles (p50/p90/p99, percentile_disc semantics like q25)
    * against the same percentiles over a DETERMINISTIC 10% sample
    * (md5 of the row's natural key mod 10 — the t5 stable-split
    * convention: reproducible across runs, engines and partitionings,
    * unlike rand()-based sampling), with the absolute error per
    * quantile point. This is the calibration a pipeline runs ONCE to
    * decide whether sampled quantiles are good enough to replace the
    * exact pass in routine monitoring — the d10/s4 audit convention
    * (the audit itself is the registered, oracle-checked query).
    *
    * Scale shape: both branches aggregate the fact table to a
    * (cents, count) HISTOGRAM first (map-side-combined; bounded by
    * the price DOMAIN, not the row count — q25's argument), then run
    * the cumulative window + rank pick on the tiny histogram. The
    * global totals ride 1-row broadcast crossJoins (the m6 scalar
    * convention). The one partition-less window per branch sits over
    * the domain-bounded histogram — whitelisted with q30, never over
    * fact rows (q25's DOMAIN CONTRACT; unbounded metrics quantize
    * first, [[graft.operators.PrefixSum.quantize]]). Rank arithmetic
    * is exact-integer ceil: (p·n + 99) DIV 100. */
  def q31SampleQuant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = round($"l_extendedprice" * 100).cast("long")
    val li = Tables.read(spark, dir, "lineitem")
    def quant(src: DataFrame): DataFrame = {
      val hist = src.groupBy($"c").agg(count(lit(1)).as("cnt"))
      val cum = Window.orderBy($"c").rowsBetween(Window.unboundedPreceding, 0)
      // the total rides the SAME window pass (unbounded frame) instead
      // of a scalar-crossJoin branch — a second branch would re-derive
      // the histogram from the fact scan (the j2 lazy-lineage disease)
      val all = Window.orderBy($"c")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist.withColumn("cum", sum($"cnt").over(cum))
        .withColumn("n", sum($"cnt").over(all))
        .agg(max($"n").as("n"),
          min(when($"cum" >= expr("(50 * n + 99) DIV 100"), $"c")).as("p50"),
          min(when($"cum" >= expr("(90 * n + 99) DIV 100"), $"c")).as("p90"),
          min(when($"cum" >= expr("(99 * n + 99) DIV 100"), $"c")).as("p99"))
    }
    val full = quant(li.select(cents.as("c")))
    val samp = quant(
      li.filter(graft.functions.DetHash.md5Long60Col(
          concat_ws(":", $"l_orderkey", $"l_linenumber")) % 10 === 0)
        .select(cents.as("c")))
      .select($"n".as("ns"), $"p50".as("s50"), $"p90".as("s90"), $"p99".as("s99"))
    full.crossJoin(samp)
      .select(explode(array(
        struct(lit(50L).as("p"), $"p50".as("exact_cents"), $"s50".as("sample_cents")),
        struct(lit(90L).as("p"), $"p90".as("exact_cents"), $"s90".as("sample_cents")),
        struct(lit(99L).as("p"), $"p99".as("exact_cents"), $"s99".as("sample_cents"))))
          .as("q"),
        $"n".as("n_full"), $"ns".as("n_sample"))
      .select($"q.p".as("p"), $"n_full", $"n_sample",
        $"q.exact_cents".as("exact_cents"), $"q.sample_cents".as("sample_cents"),
        abs($"q.exact_cents" - $"q.sample_cents").as("abs_err_cents"))
      .orderBy("p")
  }

  /** q34: SKYLINE (Pareto-front) of orders under (recent date ↑,
    * low price ↓) — the multi-objective dominance filter behind
    * "best trade-off" shortlists (Börzsönyi et al., ICDE 2001): an
    * order is on the front iff no other order is at least as recent
    * AND at least as cheap with one strict. Emits the front points
    * with order multiplicity.
    *
    * Scale shape: NO pairwise dominance join (the textbook NOT
    * EXISTS is O(n²)). The fact table collapses to the (date ×
    * price-cents) histogram in one map-side-combined shuffle; the
    * per-date cheapest point survives a date-partitioned window, and
    * cross-date dominance is ONE running-min over strictly-later
    * dates on the date-domain-bounded frame (~thousands of rows at
    * any corpus size — q25's histogram-first convention; the global
    * window is whitelisted on that ground). */
  def q34Skyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = Tables.read(spark, dir, "orders")
      .groupBy($"o_orderdate".cast("date").as("d"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("n_orders"))
    // per-date cheapest point (same-date rows above it are dominated
    // by strict price; equal-price orders ride along as multiplicity)
    val mins = hist
      .withColumn("min_cents", min($"cents").over(Window.partitionBy($"d")))
      .filter($"cents" === $"min_cents")
      .select($"d", $"cents", $"n_orders")
    // a point survives iff NO strictly later date reaches a price
    // ≤ its own (equal price later in time still dominates: date is
    // strict); the latest date always survives (null later_min)
    val later = Window.orderBy($"d".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    mins
      .withColumn("later_min", min($"cents").over(later))
      .filter($"later_min".isNull || $"cents" < $"later_min")
      .select(date_format($"d", "yyyy-MM-dd").as("o_orderdate"),
        $"cents".as("price_cents"), $"n_orders")
  }

  /** q34 oracle: the same histogram → per-date min → strictly-later
    * running-min formation. */
  val q34Sql: String =
    """WITH h AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, count(*) AS n_orders
      |  FROM orders GROUP BY 1, 2),
      |m AS (
      |  SELECT d, cents, n_orders, min(cents) OVER (PARTITION BY d) AS mc FROM h),
      |mins AS (SELECT d, cents, n_orders FROM m WHERE cents = mc),
      |s AS (
      |  SELECT d, cents, n_orders,
      |    min(cents) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS later_min
      |  FROM mins)
      |SELECT strftime(d, '%Y-%m-%d') AS o_orderdate, cents AS price_cents,
      |  CAST(n_orders AS BIGINT) AS n_orders
      |FROM s WHERE later_min IS NULL OR cents < later_min
      |ORDER BY o_orderdate""".stripMargin

  /** q35: EXACT linear-relationship audit — per return flag, the
    * least-squares slope (cents per unit quantity, ×1e6) and the
    * coefficient of determination r² ×1e6 between l_quantity and
    * l_extendedprice, entirely in integer/decimal arithmetic: the
    * co-moments (n·Σxy − ΣxΣy etc.) stage through DECIMAL(38,0) ≡
    * DuckDB HUGEINT, so the audit is hash-exact cross-engine — the
    * float stddev/corr route drifts in the last ulp under different
    * summation orders (the reason corr() can't be the oracle).
    *
    * Precision contract (documented, deterministic on both engines):
    * r²_e6 = ((|cxy|÷10³)²·10³) ÷ max(1, (cxx÷10³)·(cyy÷10⁶)) with
    * ÷ = floor division. The pre-scaling keeps every intermediate
    * under the 38-digit cap (|cxy| ≤ √(cxx·cyy) ~ 10¹⁹ at sf1 →
    * squared ~10³⁸ would saturate) AND — the Spark-specific trap —
    * keeps every ÷ QUOTIENT under 2⁶³: Spark's DIV always returns
    * LONG, so a quotient like (cxx·cyy)÷10⁶ ~ 10²⁰ silently wraps
    * even though the decimal operands are exact (caught by the
    * oracle in round 7). Worst-case relative error 10⁻³ on inputs —
    * invisible at ×1e6 output grain — and identical bit-for-bit in
    * both engines. Valid while cyy < ~10²⁵ (group rows × cents²);
    * past that, rescale cents to dollars first. Slope is half-up
    * with the sign routed around DIV (Spark DIV FLOORS, DuckDB //
    * TRUNCATES — equal only on non-negatives).
    *
    * Scale shape: one fact scan, map-side-combined six-sum rollup to
    * a flags-sized frame; everything after is constant arithmetic. */
  def q35Corr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    Tables.read(spark, dir, "lineitem")
      .select($"l_returnflag".as("flag"),
        round($"l_quantity").cast("long").as("x"),
        round($"l_extendedprice" * 100).cast("long").as("y"))
      .groupBy($"flag")
      .agg(count(lit(1)).cast(d38).as("n"),
        sum($"x".cast(d38)).as("sx"),
        sum($"y".cast(d38)).as("sy"),
        sum(($"x" * $"x").cast(d38)).as("sxx"),
        // y² fits a long per-row (cents ≤ ~10⁷) but the SUM must be
        // decimal — a long sum silently wraps at ~10⁹ rows
        sum(($"y".cast(d38)) * $"y").as("syy"),
        sum(($"x" * $"y").cast(d38)).as("sxy"))
      .withColumn("cxx", expr("n * sxx - sx * sx"))
      .withColumn("cyy", expr("n * syy - sy * sy"))
      .withColumn("cxy", expr("n * sxy - sx * sy"))
      .select($"flag", $"n".cast("long").as("n_rows"),
        expr("""CAST(CASE WHEN cxx = 0 THEN NULL
               |  WHEN cxy >= 0 THEN (2 * (cxy * 1000000) + cxx) DIV (2 * cxx)
               |  ELSE -((2 * ((-cxy) * 1000000) + cxx) DIV (2 * cxx))
               |END AS BIGINT)""".stripMargin).as("beta_e6"),
        expr("""CAST(CAST(abs(cxy) DIV 1000 AS DECIMAL(38,0))
               |      * CAST(abs(cxy) DIV 1000 AS DECIMAL(38,0)) * 1000
               |  DIV greatest(CAST(1 AS DECIMAL(38,0)),
               |    CAST(cxx DIV 1000 AS DECIMAL(38,0))
               |      * CAST(cyy DIV 1000000 AS DECIMAL(38,0)))
               |AS BIGINT)""".stripMargin).as("r2_e6"))
      .orderBy("flag")
  }

  /** q35 oracle: the same six-sum/co-moment/scaled-quotient chain on
    * HUGEINT. */
  val q35Sql: String =
    """WITH a AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS HUGEINT) AS sy,
      |    sum(CAST(round(l_quantity) AS HUGEINT)
      |      * CAST(round(l_quantity) AS HUGEINT)) AS sxx,
      |    sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
      |      * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy,
      |    sum(CAST(round(l_quantity) AS HUGEINT)
      |      * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT flag, n,
      |    n * sxx - sx * sx AS cxx,
      |    n * syy - sy * sy AS cyy,
      |    n * sxy - sx * sy AS cxy
      |  FROM a)
      |SELECT flag, CAST(n AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN cxx = 0 THEN NULL
      |    WHEN cxy >= 0 THEN (2 * (cxy * 1000000) + cxx) // (2 * cxx)
      |    ELSE -((2 * ((-cxy) * 1000000) + cxx) // (2 * cxx))
      |  END AS BIGINT) AS beta_e6,
      |  CAST((abs(cxy) // 1000) * (abs(cxy) // 1000) * 1000
      |    // greatest(CAST(1 AS HUGEINT), (cxx // 1000) * (cyy // 1000000))
      |  AS BIGINT) AS r2_e6
      |FROM c ORDER BY flag""".stripMargin

  /** q31 oracle: the same two histogram/cum/pick chains; the sample
    * predicate is the shared md5-hex→BIGINT formation. */
  val q31Sql: String = {
    val key = graft.functions.DetHash.sql60(
      "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")
    def chain(tag: String, pred: String) =
      s"""${tag}h AS (
         |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c, count(*) AS cnt
         |  FROM lineitem $pred GROUP BY 1),
         |${tag}c AS (
         |  SELECT c, sum(cnt) OVER (ORDER BY c) AS cum,
         |         (SELECT sum(cnt) FROM ${tag}h) AS n
         |  FROM ${tag}h),
         |${tag}q AS (
         |  SELECT max(n) AS n,
         |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN c END) AS p50,
         |    min(CASE WHEN cum >= (90 * n + 99) // 100 THEN c END) AS p90,
         |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN c END) AS p99
         |  FROM ${tag}c)""".stripMargin
    s"""WITH ${chain("f", "")},
       |${chain("s", s"WHERE $key % 10 = 0")}
       |SELECT CAST(p AS BIGINT) AS p,
       |  CAST(f.n AS BIGINT) AS n_full, CAST(s.n AS BIGINT) AS n_sample,
       |  CAST(CASE p WHEN 50 THEN f.p50 WHEN 90 THEN f.p90 ELSE f.p99 END AS BIGINT) AS exact_cents,
       |  CAST(CASE p WHEN 50 THEN s.p50 WHEN 90 THEN s.p90 ELSE s.p99 END AS BIGINT) AS sample_cents,
       |  CAST(abs((CASE p WHEN 50 THEN f.p50 WHEN 90 THEN f.p90 ELSE f.p99 END)
       |         - (CASE p WHEN 50 THEN s.p50 WHEN 90 THEN s.p90 ELSE s.p99 END)) AS BIGINT) AS abs_err_cents
       |FROM fq f, sq s, (SELECT unnest([50, 90, 99]) AS p) pp
       |ORDER BY p""".stripMargin
  }

  /** q36: RFM customer segmentation (Hughes' recency / frequency /
    * monetary framework, the standard CRM tiering) — each customer
    * scored 1–4 per dimension by exact quartile (1 = most recent /
    * lowest order count / lowest spend quartile), then the 4×4×4
    * segment grid reports customers and total spend: the "champions
    * vs at-risk" table every lifecycle campaign is cut from. Recency
    * is measured against the corpus's own last order day (e21's
    * reproducible-now convention), in whole epoch days.
    *
    * Quartile thresholds use percentile_disc semantics — smallest
    * value whose cumulative count reaches ceil(q·n/4) — computed
    * q25-style from a value histogram, NEVER a global sort of
    * customers; ties land whole value-groups in one quartile
    * deterministically on both engines.
    *
    * Scale shape: ONE orders scan → customer-sized rollup; three
    * histogram→threshold chains re-aggregate THAT frame; thresholds
    * come back as a 1-row broadcast (m6 convention) and the segment
    * rollup map-side-combines to ≤64 rows. The mon_cents histogram is
    * customer-cardinality (per-customer sums), so each chain's
    * cumulative counts run through
    * [[graft.operators.PrefixSum.blockCum]] — the only unpartitioned
    * windows are the ≤#blocks offset frames. */
  def q36Rfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    // memoized: seven consumers (corpus-end agg, three histogram
    // chains, the scoring pass) would otherwise each re-derive the
    // orders scan through lazy lineage — the scan-gate disease class
    val per = graft.operators.Indexes.memo(s"q36_per:$dir") {
      val per0 = Tables.read(spark, dir, "orders")
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("freq"),
          sum(round($"o_totalprice" * 100).cast("long")).as("mon_cents"),
          max(expr("unix_micros(o_orderdate) DIV 86400000000")).as("last_day"))
      val corpusEnd = per0.agg(max($"last_day").as("corpus_day"))
      per0.crossJoin(broadcast(corpusEnd))
        .withColumn("recency", $"corpus_day" - $"last_day")
    }

    // percentile_disc quartile thresholds of one column, as 1 row.
    // mon_cents is a per-customer SUM (customer-cardinality histogram,
    // q33's hazard), so cumulative counts go through blockCum's
    // two-level prefix sum — recency/freq are domain-bounded and just
    // collapse to one (still partitioned) block under the same plan
    def thr(c: String): DataFrame = {
      // blockCum consumes its input TWICE (local sums + block totals)
      // and tot is a third consumer — memoized per its documented
      // contract so the groupBy over `per` runs once per column
      val hist = graft.operators.Indexes.memo(s"q36_hist:$c:$dir") {
        per.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      }
      val tot = hist.agg(sum($"cnt").as("n"))
      graft.operators.PrefixSum.blockCum(hist, "v", "cnt", "cum")
        .crossJoin(broadcast(tot))
        .agg(min(when($"cum" >= expr("(n + 3) DIV 4"), $"v")).as(s"${c}_t1"),
          min(when($"cum" >= expr("(2 * n + 3) DIV 4"), $"v")).as(s"${c}_t2"),
          min(when($"cum" >= expr("(3 * n + 3) DIV 4"), $"v")).as(s"${c}_t3"))
    }
    def score(v: Column, t1: Column, t2: Column, t3: Column): Column =
      when(v <= t1, 1L).when(v <= t2, 2L).when(v <= t3, 3L).otherwise(4L)

    val t = thr("recency").crossJoin(thr("freq")).crossJoin(thr("mon_cents"))
    per.crossJoin(broadcast(t))
      .select(score($"recency", $"recency_t1", $"recency_t2", $"recency_t3").as("r_q"),
        score($"freq", $"freq_t1", $"freq_t2", $"freq_t3").as("f_q"),
        score($"mon_cents", $"mon_cents_t1", $"mon_cents_t2", $"mon_cents_t3").as("m_q"),
        $"mon_cents")
      .groupBy($"r_q", $"f_q", $"m_q")
      .agg(count(lit(1)).as("n_customers"), sum($"mon_cents").as("seg_cents"))
      .orderBy("r_q", "f_q", "m_q")
  }

  /** q36 oracle: the same rollup, three histogram/ceil-rank threshold
    * chains and segment grid. */
  val q36Sql: String =
    """WITH per AS (
      |  SELECT o_custkey, count(*) AS freq,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS mon_cents,
      |    max(epoch_us(o_orderdate) // 86400000000) AS last_day
      |  FROM orders GROUP BY 1),
      |mx AS (SELECT max(last_day) AS corpus_day FROM per),
      |p2 AS (SELECT per.*, mx.corpus_day - per.last_day AS recency FROM per, mx),
      |rh AS (SELECT recency AS v, count(*) AS cnt FROM p2 GROUP BY 1),
      |rc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n FROM rh),
      |rt AS (SELECT min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS t1,
      |              min(CASE WHEN cum >= (2 * n + 3) // 4 THEN v END) AS t2,
      |              min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS t3 FROM rc),
      |fh AS (SELECT freq AS v, count(*) AS cnt FROM p2 GROUP BY 1),
      |fc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n FROM fh),
      |ft AS (SELECT min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS t1,
      |              min(CASE WHEN cum >= (2 * n + 3) // 4 THEN v END) AS t2,
      |              min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS t3 FROM fc),
      |mh AS (SELECT mon_cents AS v, count(*) AS cnt FROM p2 GROUP BY 1),
      |mc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n FROM mh),
      |mt AS (SELECT min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS t1,
      |              min(CASE WHEN cum >= (2 * n + 3) // 4 THEN v END) AS t2,
      |              min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS t3 FROM mc),
      |sc AS (
      |  SELECT
      |    CASE WHEN recency <= rt.t1 THEN 1 WHEN recency <= rt.t2 THEN 2
      |         WHEN recency <= rt.t3 THEN 3 ELSE 4 END AS r_q,
      |    CASE WHEN freq <= ft.t1 THEN 1 WHEN freq <= ft.t2 THEN 2
      |         WHEN freq <= ft.t3 THEN 3 ELSE 4 END AS f_q,
      |    CASE WHEN mon_cents <= mt.t1 THEN 1 WHEN mon_cents <= mt.t2 THEN 2
      |         WHEN mon_cents <= mt.t3 THEN 3 ELSE 4 END AS m_q,
      |    mon_cents
      |  FROM p2, rt, ft, mt)
      |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
      |  CAST(m_q AS BIGINT) AS m_q, count(*) AS n_customers,
      |  CAST(sum(mon_cents) AS BIGINT) AS seg_cents
      |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q37: CUSTOMER DECILE TRANSITION MATRIX — spend-mobility between
    * consecutive order years (the churn/upsell movement view next to
    * q36's static RFM segments): per year customers land in spend
    * deciles (1 = lowest, 10 = top); the matrix counts, for every
    * year with a successor, how many customers moved from decile i to
    * decile j — with j = 0 for customers who placed NO orders the
    * next year (churned). The diagonal is stability, below-diagonal
    * decay, the 0-column churn by prior value tier.
    *
    * Decile assignment is t23's bucket-granularity pattern: the cum
    * distribution runs over the per-year $100-BUCKET histogram
    * (domain-bounded — price range / $100 buckets, NOT a per-customer
    * rank), decile = 1 + (10·cum_below) DIV n, so the windows sort
    * thousands of buckets, never millions of customers. One orders
    * scan → (year, cust) rollup; assignment = histogram join back on
    * (year, bucket); the transition pair join shuffles on (year,
    * cust) once each side; output ≤ years × 10 × 11 rows. */
  def q37DecileTransition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the (year, customer, decile) assignment is customer-year-sized
    // and referenced THREE ways (from-side, to-side, year set) — one
    // memoized materialization, the c1Frame pattern, keeps the orders
    // table at one logical read instead of five
    val asg = graft.operators.Indexes.memo(s"q37_asg:$dir") {
      val cy = Tables.read(spark, dir, "orders")
        .groupBy(year($"o_orderdate").cast("long").as("yr"), $"o_custkey".as("c"))
        .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      val bk = cy.select($"yr", $"c", expr("cents DIV 10000").as("b"))
      val hist = bk.groupBy($"yr", $"b").agg(count(lit(1)).as("n"))
      val wCum = Window.partitionBy($"yr").orderBy($"b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val dec = hist
        .withColumn("cum", coalesce(sum($"n").over(wCum), lit(0L)))
        .withColumn("ntot", sum($"n").over(Window.partitionBy($"yr")))
        .select($"yr", $"b",
          least(lit(10L), expr("(cum * 10) DIV ntot") + 1L).as("decile"))
      bk.join(dec, Seq("yr", "b")).select($"yr", $"c", $"decile")
    }
    val yrs = asg.select($"yr").distinct()
    val nxt = asg.select(($"yr" - 1L).as("yr"), $"c", $"decile".as("decile_to"))
    asg
      .join(broadcast(yrs.select(($"yr" - 1L).as("yr"))), Seq("yr"), "left_semi")
      .join(nxt, Seq("yr", "c"), "left")
      .groupBy($"yr", $"decile".as("decile_from"),
        coalesce($"decile_to", lit(0L)).as("decile_to"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"yr", $"decile_from", $"decile_to")
  }

  /** q37 oracle: same rollup, $100-bucket cum deciles, successor-year
    * pairing with decile 0 for churn. */
  val q37Sql: String =
    """WITH cy AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey AS c,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1, 2),
      |bk AS (SELECT yr, c, cents // 10000 AS b FROM cy),
      |hist AS (SELECT yr, b, count(*) AS n FROM bk GROUP BY 1, 2),
      |dec AS (
      |  SELECT yr, b,
      |    least(10, 1 + (coalesce(sum(n) OVER (PARTITION BY yr ORDER BY b
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10)
      |      // (sum(n) OVER (PARTITION BY yr))) AS decile
      |  FROM hist),
      |asg AS (
      |  SELECT bk.yr, bk.c, dec.decile
      |  FROM bk JOIN dec ON dec.yr = bk.yr AND dec.b = bk.b),
      |yrs AS (SELECT DISTINCT yr FROM cy),
      |pairs AS (
      |  SELECT a.yr, a.decile AS decile_from, coalesce(n.decile, 0) AS decile_to
      |  FROM asg a
      |  JOIN yrs y2 ON y2.yr = a.yr + 1
      |  LEFT JOIN asg n ON n.yr = a.yr + 1 AND n.c = a.c)
      |SELECT yr, CAST(decile_from AS BIGINT) AS decile_from,
      |  CAST(decile_to AS BIGINT) AS decile_to,
      |  CAST(count(*) AS BIGINT) AS n_customers
      |FROM pairs GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
}
