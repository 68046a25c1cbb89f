package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.functions.TextFunctions.tokens

/** Corpus-statistics diagnostics (round 5, final batch): inequality of
  * the length distribution (q140), vocabulary growth (q141), and
  * two-sample distribution drift (q142). Every statistic is emitted in
  * integer cross-multiplied form — numerators and denominators, never
  * a float division — so both engines agree bit-for-bit.
  */
object TextQueries5 {

  val queries: Seq[GraftQuery] = Seq(

    // ---- q140: Gini coefficient of document lengths per language —
    //      "is the token budget spread evenly or hoarded by a few huge
    //      docs?". With lengths sorted ascending and 1-based ranks:
    //      G = (2·Σ i·x_i − (n+1)·Σ x) / (n·Σ x); emitted as ppm via
    //      integer div. One window (rank within lang) + one groupBy. ----
    GraftQuery(
      "q140_length_gini",
      (s, d) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n_chars"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"), col("n_chars"))
          .withColumn("i", row_number().over(w).cast("long"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_x"),
            sum(col("i") * col("n_chars")).as("sum_ix"))
          // the ×10^6 numerator is O(n·Σx·10^6) — decimal(38,0), not
          // long, or it wraps at large corpora (DuckDB's side is
          // HUGEINT by promotion). The numerator is ≥ 0 (Chebyshev's
          // sum inequality on ascending x), so truncating div = floor.
          .withColumn("gini_ppm",
            expr("""cast(
              (2 * cast(sum_ix as decimal(38,0)) - (n + 1) * cast(sum_x as decimal(38,0)))
                * 1000000 div (cast(n as decimal(38,0)) * sum_x) as bigint)"""))
      },
      Some("""
        WITH r AS (
          SELECT lang, n_chars,
            CAST(row_number() OVER (PARTITION BY lang
              ORDER BY n_chars, doc_id) AS BIGINT) AS i
          FROM documents),
        a AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(n_chars) AS BIGINT) AS sum_x,
            CAST(sum(i * n_chars) AS BIGINT) AS sum_ix
          FROM r GROUP BY lang)
        SELECT lang, n, sum_x, sum_ix,
          CAST((2 * sum_ix - (n + 1) * sum_x) * 1000000 // (n * sum_x) AS BIGINT)
            AS gini_ppm
        FROM a
      """)),

    // ---- q141: vocabulary growth (Heaps' law) — distinct vocabulary
    //      after the first k documents, at k = 50, 100, ..., 500. Each
    //      token contributes at its FIRST document (min doc_id), so the
    //      curve is one explode→min groupBy, then a tiny broadcast
    //      checkpoint spine counts tokens whose first doc has arrived —
    //      never a running count-distinct window. ----
    GraftQuery(
      "q141_vocab_growth",
      (s, d) => {
        val first = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
        val ks = (1 to 10).map(_ * 50L)
        val spine = first.sparkSession.createDataFrame(
          ks.map(Tuple1(_))).toDF("k")
        first.crossJoin(broadcast(spine))
          .where(col("first_doc") < col("k"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("vocab"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
          FROM documents),
        first AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok),
        ks AS (SELECT CAST(unnest(generate_series(1, 10)) * 50 AS BIGINT) AS k)
        SELECT k, CAST(count(*) AS BIGINT) AS vocab
        FROM first JOIN ks ON first_doc < k
        GROUP BY k
      """)),

    // ---- q142: two-sample drift — the Kolmogorov-Smirnov statistic
    //      between two sources' length distributions, exactly:
    //      D = max over observed values of |F1(v)·n2 − F2(v)·n1|
    //      (integer numerator; the true D is ks_num / (n1·n2)). The
    //      merged-CDF formulation is one union + one window over the
    //      value axis + one max — no pairwise comparison, no binning
    //      approximation. The drift gate a corpus mixer runs when a
    //      source's new drop looks "off". ----
    GraftQuery(
      "q142_ks_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .where(col("source").isin("src0", "src1"))
          .select(col("source"), col("n_chars"))
        val tagged = docs.select(col("n_chars").as("v"),
          when(col("source") === "src0", 1L).otherwise(0L).as("c1"),
          when(col("source") === "src1", 1L).otherwise(0L).as("c2"))
        val byV = tagged.groupBy(col("v"))
          .agg(sum(col("c1")).as("d1"), sum(col("c2")).as("d2"))
        // the window axis is the DISTINCT length values — a bounded
        // domain after the groupBy, so the unpartitioned CDF window is
        // a small single-partition pass, not a data-scale sort
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val all = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        byV
          .withColumn("f1", sum(col("d1")).over(w))
          .withColumn("f2", sum(col("d2")).over(w))
          .withColumn("n1", sum(col("d1")).over(all))
          .withColumn("n2", sum(col("d2")).over(all))
          .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
            max(abs(col("f1") * col("n2") - col("f2") * col("n1"))).as("ks_num"))
      },
      Some("""
        WITH docs AS (
          SELECT source, n_chars AS v FROM documents
          WHERE source IN ('src0', 'src1')),
        byv AS (
          SELECT v,
            sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS d1,
            sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS d2
          FROM docs GROUP BY v),
        cdf AS (
          SELECT v, d1, d2,
            sum(d1) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
            sum(d2) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2,
            sum(d1) OVER () AS n1, sum(d2) OVER () AS n2
          FROM byv)
        SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
          CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS ks_num
        FROM cdf
      """)),

    // ---- q146: quality-decile corpus mixing — rank documents within
    //      each source by an integer quality score (distinct-token
    //      count), then apply a per-grade retention rule: premium
    //      sources (src0/src1) keep their top five deciles, everything
    //      else keeps two. ntile over a TOTAL order (score desc,
    //      doc_id) is deterministic and identical in both engines —
    //      this is the quality-stratified refinement of q124's
    //      rate-based mixture. ----
    GraftQuery(
      "q146_quality_mixture",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("doc_id"))
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            graft.functions.TextFunctions.distinctTokenCount(col("text")).as("score"))
          .withColumn("decile", ntile(10).over(w).cast("long"))
          .withColumn("keep", col("decile") <=
            when(col("source").isin("src0", "src1"), 5).otherwise(2))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            max(when(col("keep"), col("score"))).as("best_kept"),
            min(when(col("keep"), col("score"))).as("worst_kept"))
      },
      Some("""
        WITH q AS (
          SELECT source, doc_id,
            CAST(len(list_distinct(regexp_extract_all(lower(text), '\S+'))) AS BIGINT)
              AS score
          FROM documents),
        r AS (
          SELECT source, doc_id, score,
            CAST(ntile(10) OVER (PARTITION BY source
              ORDER BY score DESC, doc_id) AS BIGINT) AS decile
          FROM q),
        k AS (
          SELECT source, score,
            decile <= CASE WHEN source IN ('src0', 'src1') THEN 5 ELSE 2 END AS keep
          FROM r)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          max(CASE WHEN keep THEN score END) AS best_kept,
          min(CASE WHEN keep THEN score END) AS worst_kept
        FROM k GROUP BY source
      """)),

    // ---- q147: golden-record survivorship — collapse each duplicate
    //      cluster into ONE merged record with per-FIELD survivorship
    //      rules: earliest doc_id as the surviving identity, the
    //      longest text's length, and the cluster's modal language
    //      (ties broken lexicographically). Clustering key is a
    //      10-token prefix block (the title-blocking step of entity
    //      resolution — the fixture has no byte-identical texts, but
    //      shared openings; in production the key comes from the dedup
    //      family upstream). The MDM merge step that follows dedup;
    //      every rule is deterministic, so the merged records
    //      hash-match. Two shuffles: block groupBy, modal lang
    //      ranking. ----
    GraftQuery(
      "q147_golden_record",
      (s, d) => {
        // the tokenize+md5 blocking key feeds BOTH the modal-lang
        // ranking and the cluster groupBy — stage it once (q138
        // precedent) or the per-row text kernel runs twice
        val docs = Tables.documents(s, d)
          .select(md5(concat_ws(" ",
              slice(tokens(col("text")), 1, 10))).as("fp"),
            col("doc_id"), col("lang"), col("n_chars"))
          .localCheckpoint()
        val langRank = Window.partitionBy(col("fp"))
          .orderBy(col("n_lang").desc, col("lang"))
        val modalLang = docs.groupBy(col("fp"), col("lang"))
          .agg(count(lit(1)).as("n_lang"))
          .withColumn("r", row_number().over(langRank))
          .where(col("r") === 1)
          .select(col("fp"), col("lang").as("modal_lang"))
        docs.groupBy(col("fp"))
          .agg(count(lit(1)).as("n_members"),
            min(col("doc_id")).as("survivor_id"),
            max(col("n_chars")).as("longest_chars"))
          .join(modalLang, Seq("fp"))
          .where(col("n_members") > 1)
          .drop("fp")
      },
      Some("""
        WITH docs AS (
          SELECT md5(array_to_string(
              (regexp_extract_all(lower(text), '\S+'))[1:10], ' ')) AS fp,
            doc_id, lang, n_chars
          FROM documents),
        ml AS (
          SELECT fp, lang AS modal_lang,
            row_number() OVER (PARTITION BY fp
              ORDER BY count(*) DESC, lang) AS r
          FROM docs GROUP BY fp, lang),
        g AS (
          SELECT fp, CAST(count(*) AS BIGINT) AS n_members,
            min(doc_id) AS survivor_id,
            max(n_chars) AS longest_chars
          FROM docs GROUP BY fp)
        SELECT g.n_members, g.survivor_id, g.longest_chars, ml.modal_lang
        FROM g JOIN ml ON g.fp = ml.fp AND ml.r = 1
        WHERE g.n_members > 1
      """)),

    // ---- q149: PII redaction — the "keep the text, lose the
    //      identifier" scrub a released training corpus needs. The
    //      fixture corpus carries no PII, so both engines plant the SAME
    //      doc_id-derived email/phone/IP/account tokens before
    //      scrubbing — the patterns are then exercised against text
    //      that genuinely contains every type, and the tail of real
    //      fixture text guards against over-matching. Patterns are
    //      RE2-safe and shared verbatim with the oracle
    //      (TextFunctions.Pii*Pattern); per-type counts audit the
    //      original text independently of redaction order. Pure map,
    //      no shuffle — scale-trivial. ----
    GraftQuery(
      "q149_pii_redact",
      (s, d) => {
        import graft.functions.TextFunctions._
        // coalesce: Spark's concat null-propagates while DuckDB's
        // ignores NULL args — a null-text row would silently diverge
        val planted = concat(
          coalesce(col("text"), lit("")),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 3, "0"), lit("-"),
          lpad(pmod(col("doc_id") * 7, lit(10000L)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
          lit(".17 acct "), (col("doc_id") * 37 + 12345678L).cast("string"))
        Tables.documents(s, d)
          .select(col("doc_id"), planted.as("_t"))
          .select(col("doc_id"),
            redactPii(col("_t")).as("redacted"),
            piiCount(col("_t"), PiiEmailPattern).as("n_email"),
            piiCount(col("_t"), PiiPhonePattern).as("n_phone"),
            piiCount(col("_t"), PiiIpv4Pattern).as("n_ip"),
            piiCount(col("_t"), PiiIdPattern).as("n_id"))
      },
      Some {
        // DuckDB '...' literals have no backslash escapes (q56
        // precedent) — patterns go in raw, only quotes doubled
        def esc(p: String) = p.replace("'", "''")
        import graft.functions.TextFunctions._
        s"""
        WITH planted AS (
          SELECT doc_id,
            concat(coalesce(text, ''), ' contact user', CAST(doc_id AS VARCHAR), '@example.com or +1-555-',
              lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
              lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0'),
              ' from 10.0.', CAST(doc_id % 256 AS VARCHAR),
              '.17 acct ', CAST(doc_id * 37 + 12345678 AS VARCHAR)) AS t
          FROM documents)
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
            '${esc(PiiEmailPattern)}', '<EMAIL>', 'g'),
            '${esc(PiiIpv4Pattern)}', '<IP>', 'g'),
            '${esc(PiiPhonePattern)}', '<PHONE>', 'g'),
            '${esc(PiiIdPattern)}', '<ID>', 'g') AS redacted,
          CAST(len(regexp_extract_all(t, '${esc(PiiEmailPattern)}')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(t, '${esc(PiiPhonePattern)}')) AS BIGINT) AS n_phone,
          CAST(len(regexp_extract_all(t, '${esc(PiiIpv4Pattern)}')) AS BIGINT) AS n_ip,
          CAST(len(regexp_extract_all(t, '${esc(PiiIdPattern)}')) AS BIGINT) AS n_id
        FROM planted
        """
      })
  )
}
