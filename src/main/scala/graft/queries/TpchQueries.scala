package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.functions.Exact._

/** TPC-H-adapted query family (q60-q73).
  *
  * The fixture star schema (TESTDATA.md) is TPC-H-ish but reduced: no
  * partsupp, no l_commitdate/l_receiptdate/l_shipmode, no c_phone. Each
  * query below keeps the *shape* of its TPC-H counterpart (the join
  * topology, subquery nesting, and aggregate structure — what actually
  * exercises the optimizer) with predicates adapted to the columns that
  * exist. Q1/Q3/Q5/Q6 shapes already live in Relational (q01/q03/q05/q02).
  *
  * Scale notes (100 TB design point):
  *  - dimension sides (nation, supplier, part, filtered subqueries whose
  *    result is provably small) are explicitly `broadcast()` — no shuffle
  *    of the fact table for those joins;
  *  - correlated-subquery shapes (Q17) become an aggregate joined back on
  *    the key rather than a per-row subquery — one shuffle, no N+1;
  *  - "max over a derived table" (Q15) broadcasts the 1-row max rather
  *    than window-ing an unpartitioned sort over all suppliers;
  *  - money aggregates use decimal-exact sums (graft.functions.Exact) so
  *    results are partitioning-independent and hash-match the oracle.
  */
object TpchQueries {

  private def tsLit(df: DataFrame, colName: String, v: String): Column =
    lit(v).cast(df.schema(colName).dataType)

  private def revenue: Column =
    (dec2(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec2(col("l_discount"))))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"

  val queries: Seq[GraftQuery] = Seq(

    // ---- q60: TPC-H Q4 shape — EXISTS decorrelated to a left-semi join.
    //      "Late shipment" predicate adapted from commitdate/receiptdate
    //      (absent) to shipdate > orderdate + 60 days. ----
    GraftQuery(
      "q60_tpch4_exists",
      (s, d) => {
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        val oF = o.where(
          col("o_orderdate") >= tsLit(o, "o_orderdate", "1997-01-01") &&
          col("o_orderdate") <  tsLit(o, "o_orderdate", "1997-07-01"))
        oF.join(l,
            col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
      """)),

    // ---- q61: TPC-H Q7 shape — nation-pair shipping volume. The OR of
    //      the two (supp_nation, cust_nation) orientations is evaluated
    //      after two broadcast nation joins; fact table shuffles only for
    //      the orders/customer equi-joins. ----
    GraftQuery(
      "q61_tpch7_volume",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val sup = Tables.supplier(s, d)
        val n1 = Tables.nation(s, d).select(
          col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d).select(
          col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
        l.where(
            col("l_shipdate") >= tsLit(l, "l_shipdate", "1996-01-01") &&
            col("l_shipdate") <  tsLit(l, "l_shipdate", "1998-01-01"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
          .where(
            (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(revenue).cast("double").as("volume"))
      },
      Some(s"""
        SELECT supp_nation, cust_nation, l_year, CAST(sum(vol) AS DOUBLE) AS volume
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INT) AS l_year, $revenueSql AS vol
          FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
        GROUP BY supp_nation, cust_nation, l_year
      """)),

    // ---- q62: TPC-H Q8 shape — market share: conditional share of one
    //      supplier nation inside a customer region, by order year. ----
    GraftQuery(
      "q62_tpch8_share",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val sup = Tables.supplier(s, d)
        val p = Tables.part(s, d).where(col("p_type") === "PROMO")
        val nC = Tables.nation(s, d).select(
          col("n_nationkey").as("c_nkey"), col("n_regionkey").as("c_rkey"))
        val r = Tables.region(s, d).where(col("r_name") === "ASIA")
        val nS = Tables.nation(s, d).select(
          col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val oF = o.where(
          col("o_orderdate") >= tsLit(o, "o_orderdate", "1996-01-01") &&
          col("o_orderdate") <  tsLit(o, "o_orderdate", "1998-01-01"))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(oF, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nC), col("c_nationkey") === col("c_nkey"))
          .join(broadcast(r), col("c_rkey") === col("r_regionkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nS), col("s_nationkey") === col("s_nkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            (sum(when(col("supp_nation") === "NATION_2", revenue)
                .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") /
             sum(revenue).cast("double")).as("mkt_share"))
      },
      Some(s"""
        SELECT o_year,
          CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
            / CAST(sum(vol) AS DOUBLE) AS mkt_share
        FROM (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year, $revenueSql AS vol,
                 n2.n_name AS supp_nation
          FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'PROMO'
            AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        GROUP BY o_year
      """)),

    // ---- q63: TPC-H Q9 shape — product-type profit by nation and year.
    //      ps_supplycost (no partsupp table) is proxied by half the part
    //      retail price; profit stays decimal-exact end to end. ----
    GraftQuery(
      "q63_tpch9_profit",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val sup = Tables.supplier(s, d)
        val p = Tables.part(s, d).where(col("p_name").contains("widget"))
        val n = Tables.nation(s, d)
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
          .agg(sum(revenue -
              dec2(col("p_retailprice")) * lit(0.5).cast("decimal(12,2)") * dec2(col("l_quantity")))
            .cast("double").as("sum_profit"))
      },
      Some(s"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
          CAST(sum($revenueSql
                   - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.5 AS DECIMAL(12,2))
                     * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
        FROM lineitem
          JOIN part     ON l_partkey = p_partkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, CAST(year(o_orderdate) AS INT)
      """)),

    // ---- q64: TPC-H Q10 shape — returned-item revenue per customer,
    //      top 20. Deterministic tie-break on custkey. ----
    GraftQuery(
      "q64_tpch10_returns",
      (s, d) => {
        val l = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val oF = o.where(
          col("o_orderdate") >= tsLit(o, "o_orderdate", "1997-01-01") &&
          col("o_orderdate") <  tsLit(o, "o_orderdate", "1997-04-01"))
        l.join(oF, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(sum(revenue).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""
        SELECT c_custkey, c_name, c_acctbal, n_name,
          CAST(sum($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
      """)),

    // ---- q65: TPC-H Q13 shape — customer order-count distribution via
    //      left outer join + two-level aggregation. ----
    GraftQuery(
      "q65_tpch13_distribution",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).where(col("o_orderpriority") =!= "1-URGENT")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
        GROUP BY c_count
      """)),

    // ---- q66: TPC-H Q14 shape — promo revenue share in one quarter.
    //      Identical divide-after-cast formula on both engines keeps the
    //      double bit-exact. ----
    GraftQuery(
      "q66_tpch14_promo",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        l.where(
            col("l_shipdate") >= tsLit(l, "l_shipdate", "1997-01-01") &&
            col("l_shipdate") <  tsLit(l, "l_shipdate", "1997-04-01"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg(
            (lit(100.0) *
              (sum(when(col("p_type") === "PROMO", revenue)
                  .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") /
               sum(revenue).cast("double"))).as("promo_revenue_pct"))
      },
      Some(s"""
        SELECT 100.0 * (
            CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revenueSql ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
            / CAST(sum($revenueSql) AS DOUBLE)) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      """)),

    // ---- q67: TPC-H Q15 shape — supplier(s) achieving max quarterly
    //      revenue. The 1-row max aggregate is broadcast back instead of
    //      sorting all suppliers through a single partition. ----
    GraftQuery(
      "q67_tpch15_topsupp",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val sup = Tables.supplier(s, d)
        val rev = l.where(
            col("l_shipdate") >= tsLit(l, "l_shipdate", "1997-01-01") &&
            col("l_shipdate") <  tsLit(l, "l_shipdate", "1997-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(sum(revenue).cast("double").as("total_revenue"))
        val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
        rev.join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      },
      Some(s"""
        WITH revenue AS (
          SELECT l_suppkey, CAST(sum($revenueSql) AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      """)),

    // ---- q68: TPC-H Q16 shape — supplier count per part attribute group
    //      with a NOT-IN exclusion subquery (negative-balance suppliers),
    //      decorrelated to a left-anti join. ----
    GraftQuery(
      "q68_tpch16_suppcnt",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d).where(
          col("p_brand") =!= "Brand#1" && col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
        val badSupp = Tables.supplier(s, d)
          .where(col("s_acctbal") < 0).select(col("s_suppkey"))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      },
      Some("""
        SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
      """)),

    // ---- q69: TPC-H Q17 shape — revenue from small-quantity lines. The
    //      correlated per-part AVG subquery is decorrelated into one
    //      aggregate joined back on partkey (one shuffle; no N+1 lookups).
    //      Quantities are integer-valued doubles, so the mean is exact
    //      regardless of accumulation order. ----
    GraftQuery(
      "q69_tpch17_smallqty",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d).where(col("p_brand") === "Brand#3")
        val lp = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        val avgQty = lp.groupBy(col("l_partkey").as("avg_pkey"))
          .agg(avg(col("l_quantity")).as("avg_qty"))
        lp.join(broadcast(avgQty), col("l_partkey") === col("avg_pkey"))
          .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg((sumExact2(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
      },
      Some("""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM (
          SELECT l_extendedprice, l_quantity,
                 avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#3')
        WHERE l_quantity < 0.2 * avg_qty
      """)),

    // ---- q70: TPC-H Q18 shape — large-volume orders: HAVING on a
    //      per-order quantity sum, pushed as a semi-filter before the
    //      customer join; top 100 deterministic. ----
    GraftQuery(
      "q70_tpch18_bigorders",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val bigOrders = l.groupBy(col("l_orderkey").as("big_okey"))
          .agg(sum(col("l_quantity")).as("sum_qty"))
          .where(col("sum_qty") > 250)
        o.join(bigOrders, col("o_orderkey") === col("big_okey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("orderdate"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""
        SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
               o_totalprice, sum_qty
        FROM orders
          JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big
            ON o_orderkey = big.l_orderkey
          JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
      """)),

    // ---- q71: TPC-H Q19 shape — OR-of-ANDs predicate across fact and
    //      dimension columns; the join stays an equi-join with the
    //      disjunction evaluated post-join (Catalyst pushes the common
    //      p_partkey equality down; the OR can't be pushed). ----
    GraftQuery(
      "q71_tpch19_ors",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .where(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
              col("l_quantity").between(20, 50)))
          .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
      },
      Some(s"""
        SELECT CAST(sum($revenueSql) AS DOUBLE) AS revenue, count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
      """)),

    // ---- q72: TPC-H Q20 shape — nested IN subqueries decorrelated to a
    //      HAVING aggregate + left-semi join: suppliers that shipped >100
    //      units of red parts in 1997. ----
    GraftQuery(
      "q72_tpch20_nested",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d).where(col("p_name").startsWith("red"))
        val sup = Tables.supplier(s, d)
        val qualified = l.where(
            col("l_shipdate") >= tsLit(l, "l_shipdate", "1997-01-01") &&
            col("l_shipdate") <  tsLit(l, "l_shipdate", "1998-01-01"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_quantity")).as("red_qty"))
          .where(col("red_qty") > 100)
        sup.join(broadcast(qualified), col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      },
      Some("""
        SELECT s_suppkey, s_name, s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'red%'
            AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
      """)),

    // ---- q73: TPC-H Q22 shape — wealthy customers with no urgent orders:
    //      scalar AVG subquery (broadcast 1-row cross join) + left-anti
    //      join on orders; country code adapted from c_phone (absent) to
    //      nationkey mod 5. The average is a decimal-exact sum / count so
    //      the comparison threshold is bit-identical cross-engine. ----
    GraftQuery(
      "q73_tpch22_antijoin",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT")
        val avgBal = c.where(col("c_acctbal") > 0)
          .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
        c.join(broadcast(avgBal))
          .where(col("c_acctbal") > col("avg_bal"))
          .join(o.select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy((col("c_nationkey") % 5).cast("int").as("cntrygroup"))
          .agg(count(lit(1)).as("numcust"), sumExact2(col("c_acctbal")).as("totacctbal"))
      },
      Some("""
        SELECT CAST(c_nationkey % 5 AS INT) AS cntrygroup, count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
                           FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY CAST(c_nationkey % 5 AS INT)
      """)),

    // ---- q107: TPC-H Q21 shape — "suppliers who kept orders waiting",
    //      adapted to the fixture's columns (l_shipdate stands in for
    //      the missing commit/receipt dates: a supplier is "late" when
    //      its line is the strictly-latest ship in a multi-supplier
    //      order). The interesting structure survives intact: one
    //      correlated EXISTS and one correlated NOT EXISTS against
    //      OTHER lines of the same order, decorrelated Spark-side into
    //      a semi join and an anti join on (orderkey, suppkey<>,
    //      shipdate>) — the equi key carries the shuffle, the
    //      inequalities ride as join residuals (never a cartesian). ----
    GraftQuery(
      "q107_tpch21_waiting",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val base = l
          .join(Tables.orders(s, d).where(col("o_orderstatus") === "F")
              .select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        val other = l.select(
          col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey"),
          col("l_shipdate").as("o2_shipdate"))
        val waited = base
          .join(other,
            col("l_orderkey") === col("o2_orderkey") &&
              col("l_suppkey") =!= col("o2_suppkey"),
            "left_semi")
          .join(other,
            col("l_orderkey") === col("o2_orderkey") &&
              col("l_suppkey") =!= col("o2_suppkey") &&
              col("o2_shipdate") > col("l_shipdate"),
            "left_anti")
        waited
          .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).cast("long").as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(10)
      },
      Some("""
        SELECT s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
      """))
  )
}
