package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.functions.Exact._
import graft.functions.VectorFunctions.topK

/** Round-2 relational batch: the bounded-heap top-k aggregate, binned
  * range join, deterministic hash sampling, regex redaction, and
  * ordered set-aggregation — each hash-checked against a DuckDB oracle.
  */
object Relational3 {

  val queries: Seq[GraftQuery] = Seq(

    // ---- q50: top-3 orders per customer via the TopKPairs
    //      TypedImperativeAggregate. Same result set as the q07 window
    //      formulation, but map-side combined: each partition forwards
    //      at most k pairs per group instead of shuffling every row to
    //      a per-group sort. The oracle is the window formulation. ----
    GraftQuery(
      "q50_topk_agg",
      (s, d) => {
        Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(topK(col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
          .select(col("o_custkey"), posexplode(col("tk")).as(Seq("pos", "t")))
          .select(
            col("o_custkey"),
            (col("pos") + 1).cast("long").as("rn"),
            col("t.id").as("o_orderkey"),
            col("t.score").as("o_totalprice"))
      },
      Some("""
        SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 3
      """)),

    // ---- q51: binned range join — lineitems shipped within 7 days of
    //      each (small-cohort) order's date. The BETWEEN predicate is
    //      mapped onto a bin equi-join (operators.RangeJoin) instead of
    //      the BroadcastNestedLoopJoin Spark would otherwise plan. ----
    GraftQuery(
      "q51_range_join",
      (s, d) => {
        val day = (c: org.apache.spark.sql.Column) =>
          datediff(c.cast("date"), lit("1995-01-01").cast("date")).cast("long")
        val points = Tables.lineitem(s, d)
          .select(col("l_orderkey"), day(col("l_shipdate")).as("ship_day"))
        val intervals = Tables.orders(s, d)
          .where(col("o_custkey") < 20)
          .select(col("o_orderkey"), day(col("o_orderdate")).as("lo"),
            (day(col("o_orderdate")) + 7).as("hi"))
        graft.operators.RangeJoin
          .pointInInterval(points, intervals, "ship_day", "lo", "hi", binWidth = 8)
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_shipped_nearby"))
      },
      Some("""
        WITH iv AS (
          SELECT o_orderkey,
            CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS lo
          FROM orders WHERE o_custkey < 20),
        pt AS (
          SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day
          FROM lineitem)
        SELECT iv.o_orderkey, count(*) AS n_shipped_nearby
        FROM pt JOIN iv ON pt.ship_day BETWEEN iv.lo AND iv.lo + 7
        GROUP BY iv.o_orderkey
      """)),

    // ---- q52: deterministic stratified sampling — md5-hex threshold
    //      per stratum. Engine-portable (pure string compare on the
    //      digest) and reproducible at any scale, unlike rand()-based
    //      TABLESAMPLE. 256ths: 'A' keeps 16/256, 'N' keeps 64/256,
    //      'R' keeps 32/256. ----
    GraftQuery(
      "q52_stratified_sample",
      (s, d) => {
        val key = md5(concat_ws("|", col("l_orderkey"), col("l_linenumber")))
        val threshold = when(col("l_returnflag") === "A", "10")
          .when(col("l_returnflag") === "N", "40")
          .otherwise("20")
        Tables.lineitem(s, d)
          .where(substring(key, 1, 2) < threshold)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_sampled"),
            sumExact2(col("l_quantity")).as("sum_qty"))
      },
      Some("""
        SELECT l_returnflag, count(*) AS n_sampled,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 2) <
          CASE l_returnflag WHEN 'A' THEN '10' WHEN 'N' THEN '40' ELSE '20' END
        GROUP BY l_returnflag
      """)),

    // ---- q53: regex term redaction over documents (the PII-scrub
    //      shape: pattern → placeholder, plus a match count). Spark
    //      regexp_replace replaces all matches by default; DuckDB needs
    //      the 'g' flag. ----
    GraftQuery(
      "q53_regex_redact",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit("\\b(key|value|hash)\\b"), lit(0)))
              .cast("long").as("n_redacted"),
            regexp_replace(col("text"), "\\b(key|value|hash)\\b", "<TERM>").as("redacted")),
      Some("""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\b(key|value|hash)\b')) AS BIGINT) AS n_redacted,
          regexp_replace(text, '\b(key|value|hash)\b', '<TERM>', 'g') AS redacted
        FROM documents
      """)),

    // ---- q58: from_json schema projection — parse the props JSON into
    //      a typed struct ONCE, then use its fields (vs q27's per-field
    //      get_json_object path). PERMISSIVE mode nulls malformed rows,
    //      mirrored by json_valid guards in the oracle ----
    GraftQuery(
      "q58_json_schema",
      (s, d) => {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))
        // single-file scan → one partition; the per-row JSON parse is
        // CPU-bound, so widen first (no-op on a naturally-wide scan)
        graft.core.Partitioning.fanOut(Tables.events(s, d))
          .withColumn("p", from_json(col("props"), schema))
          .select(col("event_type"), col("p.k").as("k"))
          .withColumn("k_parity", (col("k") % 2).cast("long"))
          .groupBy(col("event_type"), col("k_parity"))
          .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"))
      },
      Some("""
        WITH e AS (
          SELECT event_type,
            TRY_CAST(CASE WHEN json_valid(props)
                          THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
          FROM events)
        SELECT event_type, CAST(k % 2 AS BIGINT) AS k_parity,
          count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        FROM e GROUP BY event_type, k_parity
      """)),

    // ---- q54: ordered set-aggregation — distinct sources per language
    //      as a sorted joined string (collect_set is unordered by
    //      contract; array_sort makes it deterministic and
    //      cross-engine). ----
    GraftQuery(
      "q54_collect_sorted",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            array_join(array_sort(collect_set(col("source"))), ",").as("sources")),
      Some("""
        SELECT lang, count(*) AS n_docs,
          string_agg(DISTINCT source, ',' ORDER BY source) AS sources
        FROM documents
        GROUP BY lang
      """)),

    // ---- q74: ORACLE-CHECKABLE approximate distinct — the KMV bottom-k
    //      sketch over a portable md5-derived hash. Unlike q24's HLL
    //      (engine-private hashing → rows-only check), both engines
    //      compute the identical estimate, so the approximate answer
    //      hash-matches bit-for-bit. k=256 → ~6% standard error; the
    //      exact count rides along to exhibit it. ----
    GraftQuery(
      "q74_distinct_kmv",
      (s, d) => {
        import graft.functions.TextFunctions.hash60
        import graft.functions.VectorFunctions.kmvDistinct
        // fanOut: the md5-derived hash + distinct partial is CPU-bound
        // and the fixture scan arrives 3-wide (q111 precedent)
        graft.core.Partitioning.fanOut(Tables.lineitem(s, d)
            .select(col("l_returnflag"), hash60(col("l_partkey").cast("string")).as("h"),
              col("l_partkey")))
          .groupBy(col("l_returnflag"))
          .agg(
            kmvDistinct(col("h"), 256).as("approx_nd"),
            // distinct HASHES, not keys: the oracle's exact_nd (max(rn))
            // counts distinct hash values, so a 60-bit collision must
            // shift both sides identically
            countDistinct(col("h")).as("exact_nd"))
      },
      Some("""
        WITH h AS (
          SELECT DISTINCT l_returnflag,
            CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
          FROM lineitem),
        r AS (
          SELECT l_returnflag, hv,
            row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
          FROM h)
        SELECT l_returnflag,
          CASE WHEN max(rn) < 256 THEN CAST(max(rn) AS DOUBLE)
               ELSE CAST(255 AS DOUBLE)
                    / (CAST(max(CASE WHEN rn = 256 THEN hv END) AS DOUBLE) / 2.0 ** 60)
          END AS approx_nd,
          max(rn) AS exact_nd
        FROM r GROUP BY l_returnflag
      """)),

    // ---- q80: window-function breadth — lead/lag, ntile, percent_rank
    //      over a per-customer order timeline. Total order inside each
    //      partition (date, then key) keeps every offset function
    //      deterministic. ----
    GraftQuery(
      "q80_window_offsets",
      (s, d) => {
        val o = Tables.orders(s, d).where(col("o_custkey") < 100)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        o.select(
          col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("orderdate"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
          lag(o_totalprice, 1) OVER w AS prev_price,
          lead(o_totalprice, 1) OVER w AS next_price,
          CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          percent_rank() OVER w AS pr
        FROM orders
        WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      """)),

    // ---- q81: correlation / covariance, engine-portable. Built-in
    //      corr()/covar_samp() accumulate doubles in partition order and
    //      can differ in the last ulp across engines; here every SUM is
    //      decimal-exact and the closed-form combination runs in double
    //      with the IDENTICAL operation order on both sides, so the
    //      result is bit-reproducible regardless of partitioning. ----
    GraftQuery(
      "q81_corr_covar",
      (s, d) => {
        import graft.functions.Exact.dec2
        val l = Tables.lineitem(s, d)
        val x = dec2(col("l_quantity"))
        val y = dec2(col("l_discount"))
        l.groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * y).cast("double").as("sxy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"))
          .select(col("l_returnflag"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qd"),
            ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1))
              .as("covar_qd"))
      },
      Some("""
        WITH a AS (
          SELECT l_returnflag, count(*) AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
            CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sy,
            CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
            CAST(sum(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
          (n * sxy - sx * sy)
            / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qd,
          (sxy - sx * sy / n) / (n - 1) AS covar_qd
        FROM a
      """)),

    // ---- q82: date/time function breadth — truncations, calendar
    //      parts, epoch seconds. Session TZ is pinned UTC on both
    //      engines so wall-clock derivations agree; day-of-week is
    //      deliberately omitted (Spark 1=Sunday vs DuckDB 0=Sunday —
    //      an engine-convention clash, not a semantics difference). ----
    GraftQuery(
      "q82_date_breadth",
      (s, d) => {
        val o = Tables.orders(s, d).where(col("o_custkey") < 30)
        o.select(
          col("o_orderkey"),
          col("o_orderdate").cast("date").as("orderdate"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          date_trunc("week", col("o_orderdate")).cast("date").as("week_start"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          last_day(col("o_orderdate").cast("date")).as("month_end"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
      },
      Some("""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
          CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
          CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
          CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
          last_day(CAST(o_orderdate AS DATE)) AS month_end,
          CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
          CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        FROM orders WHERE o_custkey < 30
      """))
  )
}
