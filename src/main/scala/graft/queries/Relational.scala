package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.functions.Exact._
import graft.ops.Rollup

/** Relational operator coverage over the TPC-H-ish fixture tables:
  * scan/filter/project, hash & broadcast joins, semi/anti joins, hash
  * aggregation, window functions, sort/limit, set ops, pivot/unpivot,
  * and the reference's rollup-by-union pattern (SURVEY.md §2.5 A3) in
  * both its faithful and single-shuffle formulations.
  *
  * Every query aliases output columns identically to its DuckDB oracle,
  * avoids raw-timestamp outputs (dates/strings only), and uses
  * decimal-exact aggregation (graft.functions.Exact) so results are
  * bit-identical across engines regardless of partitioning.
  */
object Relational {

  /** Literal cast to the column's actual (possibly NTZ) timestamp type so
    * the comparison stays pushdown-eligible. */
  private def tsLit(df: DataFrame, colName: String, v: String): Column =
    lit(v).cast(df.schema(colName).dataType)

  val queries: Seq[GraftQuery] = Seq(

    // ---- q01: hash aggregate, map-side partial agg (TPC-H Q1 shape) ----
    GraftQuery(
      "q01_agg_sum",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        l.where(col("l_shipdate") < tsLit(l, "l_shipdate", "2000-01-01"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sumExact2(col("l_quantity")).as("sum_qty"),
            sumExact2(col("l_extendedprice")).as("sum_base_price"),
            sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec2(col("l_discount"))))
              .cast("double").as("sum_disc_price"),
            avgExact2(col("l_quantity")).as("avg_qty"),
            count(lit(1)).as("count_order"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '2000-01-01'
        GROUP BY l_returnflag, l_linestatus
      """)),

    // ---- q02: selective filter + single-row agg (TPC-H Q6 shape);
    //      filters must reach the parquet scan as PushedFilters ----
    GraftQuery(
      "q02_filter_sum",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        l.where(
            col("l_shipdate") >= tsLit(l, "l_shipdate", "1996-01-01") &&
            col("l_shipdate") <  tsLit(l, "l_shipdate", "1997-01-01") &&
            col("l_discount").between(0.02, 0.06) &&
            col("l_quantity") < 24)
          .agg(
            sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))).cast("double").as("revenue"),
            count(lit(1)).as("n"))
      },
      Some("""
        SELECT
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
          count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
      """)),

    // ---- q03: 3-way join + agg + deterministic top-k (TPC-H Q3 shape) ----
    GraftQuery(
      "q03_join_topk",
      (s, d) => {
        val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        val oF = o.where(col("o_orderdate") < tsLit(o, "o_orderdate", "1998-06-01"))
        val lF = l.where(col("l_shipdate") > tsLit(l, "l_shipdate", "1998-06-01"))
        lF.join(oF, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("orderdate"))
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec2(col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        ORDER BY revenue DESC, o_orderkey LIMIT 10
      """)),

    // ---- q04: broadcast join of a small dimension into the fact ----
    GraftQuery(
      "q04_broadcast_join",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_lines"), sumExact2(col("l_quantity")).as("sum_qty"))
      },
      Some("""
        SELECT p_brand, count(*) AS n_lines,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
      """)),

    // ---- q05: 6-way join, dims broadcast, fact joins shuffled (Q5 shape) ----
    GraftQuery(
      "q05_multi_join",
      (s, d) => {
        val r = Tables.region(s, d).where(col("r_name") === "ASIA")
        val n = Tables.nation(s, d)
        val c = Tables.customer(s, d)
        val sup = Tables.supplier(s, d)
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        val oF = o.where(
          col("o_orderdate") >= tsLit(o, "o_orderdate", "1996-01-01") &&
          col("o_orderdate") <  tsLit(o, "o_orderdate", "1998-01-01"))
        l.join(oF, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup),
            col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec2(col("l_discount"))))
            .cast("double").as("revenue"))
      },
      Some("""
        SELECT n_name,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
      """)),

    // ---- q06: global sort + limit with full tie-break ----
    GraftQuery(
      "q06_sort_limit",
      (s, d) =>
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(15),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
      """)),

    // ---- q07: window rank (top-3 orders per customer) ----
    GraftQuery(
      "q07_window_rank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("o_totalprice"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, rn, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 3
      """)),

    // ---- q08: running (cumulative) sum per customer ----
    GraftQuery(
      "q08_window_running",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("run_spend", sum(dec2(col("o_totalprice"))).over(w).cast("double"))
          .select(col("o_custkey"), col("o_orderkey"), col("run_spend"))
      },
      Some("""
        SELECT o_custkey, o_orderkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_spend
        FROM orders
      """)),

    // ---- q09: distinct aggregation ----
    GraftQuery(
      "q09_distinct_agg",
      (s, d) =>
        Tables.customer(s, d)
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_customers"),
            countDistinct(col("c_nationkey")).as("n_nations")),
      Some("""
        SELECT c_mktsegment, count(*) AS n_customers,
          count(DISTINCT c_nationkey) AS n_nations
        FROM customer GROUP BY c_mktsegment
      """)),

    // ---- q10: set operations (INTERSECT / EXCEPT, both dedup) ----
    GraftQuery(
      "q10_setops",
      (s, d) => {
        val o = Tables.orders(s, d)
        val f = o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        val op = o.where(col("o_orderstatus") === "O").select(col("o_custkey"))
        val both = f.intersect(op).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
        val onlyF = f.except(op).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
        both.unionByName(onlyF).select(col("op"), col("n"))
      },
      Some("""
        SELECT 'intersect' AS op, count(*) AS n FROM (
          SELECT o_custkey FROM orders WHERE o_orderstatus='F'
          INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        UNION ALL
        SELECT 'except' AS op, count(*) AS n FROM (
          SELECT o_custkey FROM orders WHERE o_orderstatus='F'
          EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
      """)),

    // ---- q11: semi + anti join (customers with / without orders) ----
    GraftQuery(
      "q11_semi_anti",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        val cond = col("c_custkey") === col("o_custkey")
        val withO = c.join(o, cond, "left_semi")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with"))
        val without = c.join(o, cond, "left_anti")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without"))
        withO.join(without, Seq("c_mktsegment"), "full_outer")
          .select(col("c_mktsegment"),
            coalesce(col("n_with"), lit(0L)).as("n_with"),
            coalesce(col("n_without"), lit(0L)).as("n_without"))
      },
      Some("""
        WITH w AS (SELECT DISTINCT o_custkey FROM orders)
        SELECT c_mktsegment,
          count(CASE WHEN w.o_custkey IS NOT NULL THEN 1 END) AS n_with,
          count(CASE WHEN w.o_custkey IS NULL THEN 1 END) AS n_without
        FROM customer LEFT JOIN w ON c_custkey = w.o_custkey
        GROUP BY c_mktsegment
      """)),

    // ---- q12: pivot long→wide with a closed value list (SURVEY R2) ----
    GraftQuery(
      "q12_pivot",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_linestatus"))
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(sumExact2(col("l_quantity")))
          .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r")),
      Some("""
        SELECT l_linestatus,
          CAST(sum(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_a,
          CAST(sum(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_n,
          CAST(sum(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_r
        FROM lineitem GROUP BY l_linestatus
      """)),

    // ---- q13: unpivot wide→long (SURVEY R1) ----
    GraftQuery(
      "q13_unpivot",
      (s, d) =>
        Tables.lineitem(s, d)
          .unpivot(
            Array(col("l_orderkey")),
            Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
            "metric", "value")
          .groupBy(col("metric"))
          .agg(sumExact6(col("value")).as("sum_value"), count(lit(1)).as("n")),
      Some("""
        SELECT metric, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, count(*) AS n
        FROM (
          SELECT l_orderkey, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
          UNION ALL SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL SELECT l_orderkey, 'l_discount', l_discount FROM lineitem) t
        GROUP BY metric
      """)),

    // ---- q14/q14b: the reference's rollup-by-union (A3) two ways ----
    GraftQuery(
      "q14_rollup_union",
      (s, d) => rollupBase(s, d, Rollup.byUnion(_, _, _, _, _)),
      Some(rollupOracle)),
    GraftQuery(
      "q14b_rollup_cube",
      (s, d) => rollupBase(s, d, Rollup.cubeLabeled(_, _, _, _, _)),
      Some(rollupOracle)),

    // ---- q15: string scalar functions (SURVEY E1-E5 family) ----
    GraftQuery(
      "q15_string_ops",
      (s, d) =>
        Tables.customer(s, d)
          .select(
            substring(col("c_mktsegment"), 1, 3).as("seg_code"),
            length(regexp_replace(col("c_name"), "Customer#", "")).cast("long").as("suffix_len"),
            upper(col("c_name")).as("uname"))
          .groupBy(col("seg_code"), col("suffix_len"))
          .agg(count(lit(1)).as("n"), max(col("uname")).as("max_uname")),
      Some("""
        SELECT substring(c_mktsegment, 1, 3) AS seg_code,
          CAST(length(replace(c_name, 'Customer#', '')) AS BIGINT) AS suffix_len,
          count(*) AS n, max(upper(c_name)) AS max_uname
        FROM customer GROUP BY 1, 2
      """)),

    // ---- q16: regex extraction (SURVEY E3) ----
    GraftQuery(
      "q16_regex_extract",
      (s, d) =>
        Tables.customer(s, d)
          .withColumn("cid", regexp_extract(col("c_name"), "(\\d+)", 1).cast("long"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("cid") === col("c_custkey"), 1L).otherwise(0L)).as("n_match"),
            max(col("cid")).as("max_cid")),
      Some("""
        SELECT count(*) AS n,
          CAST(sum(CASE WHEN CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT) = c_custkey THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
          max(CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT)) AS max_cid
        FROM customer
      """)),

    // ---- q17: date part extraction + agg ----
    GraftQuery(
      "q17_date_parts",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(
            year(col("o_orderdate")).cast("long").as("y"),
            month(col("o_orderdate")).cast("long").as("m"))
          .agg(count(lit(1)).as("n"), sumExact2(col("o_totalprice")).as("sum_price")),
      Some("""
        SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
          count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY 1, 2
      """)),

    // ---- q18: CASE bucketing (SURVEY E4/E5 conditional family) ----
    GraftQuery(
      "q18_case_buckets",
      (s, d) =>
        Tables.orders(s, d)
          .withColumn("bucket",
            when(col("o_totalprice") < 50000, "small")
              .when(col("o_totalprice") < 150000, "mid")
              .otherwise("large"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), sumExact2(col("o_totalprice")).as("sum_price")),
      Some("""
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'mid'
                    ELSE 'large' END AS bucket,
          count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY 1
      """)),

    // ---- q19: sentinel→null replace (SURVEY P4 semantics over fixtures) ----
    GraftQuery(
      "q19_null_replace",
      (s, d) =>
        Tables.orders(s, d)
          .na.replace("o_orderpriority", Map("1-URGENT" -> null))
          .groupBy(col("o_orderpriority").as("priority_clean"))
          .agg(count(lit(1)).as("n")),
      Some("""
        SELECT nullif(o_orderpriority, '1-URGENT') AS priority_clean, count(*) AS n
        FROM orders GROUP BY 1
      """)),

    // ---- q20: scalar subquery (orders above exact global mean) ----
    GraftQuery(
      "q20_scalar_subquery",
      (s, d) => {
        val o = Tables.orders(s, d)
        val stats = o.agg(avgExact2(col("o_totalprice")).as("thr"))
        o.crossJoin(broadcast(stats))
          .where(col("o_totalprice") > col("thr"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sumExact2(col("o_totalprice")).as("sum_price"))
      },
      Some("""
        SELECT o_orderstatus, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_totalprice > (
          SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(o_totalprice) FROM orders)
        GROUP BY o_orderstatus
      """))
  )

  /** Shared base + oracle for the two A3 rollup formulations. */
  private def rollupBase(
      s: SparkSession, d: String,
      roll: (DataFrame, Seq[String], Seq[String], (String, String), (String, String)) => DataFrame)
      : DataFrame = {
    val base = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(
        sum(dec2(col("l_quantity"))).as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).as("sum_price"),
        count(lit(1)).as("n"))
    roll(base, Seq("rf", "ls"), Seq("sum_qty", "sum_price", "n"), ("ls", "ALL"), ("rf", "ALL"))
      .select(
        col("rf"), col("ls"),
        col("sum_qty").cast("double").as("sum_qty"),
        col("sum_price").cast("double").as("sum_price"),
        col("n").cast("long").as("n"))
  }

  private def rollupOracle: String = """
    WITH base AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
        sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
        sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_price,
        count(*) AS n
      FROM lineitem GROUP BY 1, 2),
    g1 AS (
      SELECT rf, 'ALL' AS ls, sum(sum_qty) AS sum_qty, sum(sum_price) AS sum_price, sum(n) AS n
      FROM base GROUP BY rf),
    u1 AS (SELECT * FROM base UNION ALL SELECT * FROM g1),
    g2 AS (
      SELECT 'ALL' AS rf, ls, sum(sum_qty) AS sum_qty, sum(sum_price) AS sum_price, sum(n) AS n
      FROM u1 GROUP BY ls)
    SELECT rf, ls, CAST(sum_qty AS DOUBLE) AS sum_qty,
      CAST(sum_price AS DOUBLE) AS sum_price, CAST(n AS BIGINT) AS n
    FROM (SELECT * FROM u1 UNION ALL SELECT * FROM g2) final
  """
}
