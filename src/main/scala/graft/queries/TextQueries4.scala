package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.functions.TextFunctions.{tokenCount, tokens}

/** Text-pipeline round 5 (late batch): the corpus-hygiene operations a
  * C4/RefinedWeb-style prep applies that were still missing from the
  * surface — cross-document span dedup with in-place reassembly (q131),
  * an inverted-index conjunctive search (q132), robust MAD outlier
  * gating (q133), n-gram-LM familiarity scoring (q134), and a
  * k-anonymity risk report (q135).
  *
  * All five are engine-exact: integer or md5 outputs, and the only
  * floating-point values (q133's median/MAD) are 0.25-grid doubles both
  * engines compute identically (linear interpolation `lo + (hi-lo)*f`
  * over integers).
  */
object TextQueries4 {

  val queries: Seq[GraftQuery] = Seq(

    // ---- q131: cross-document SPAN dedup + reassembly (the C4
    //      "remove duplicated paragraphs" pass — fixture docs carry no
    //      newlines, so a paragraph is a fixed 20-token span). Each
    //      span instance survives iff it is the FIRST occurrence of its
    //      text corpus-wide (order: doc_id, span_idx). Docs are then
    //      reassembled from surviving spans in order; the md5 of the
    //      reassembled text makes the whole reconstruction
    //      hash-checkable. Scale shape: one window shuffle partitioned
    //      by span hash (balanced — span texts are near-unique), one
    //      groupBy doc_id; no self-join, no collect. ----
    GraftQuery(
      "q131_span_dedup",
      (s, d) => {
        val spanLen = 20
        val toks = tokens(col("text"))
        val spans = Tables.documents(s, d)
          .where(tokenCount(col("text")) >= 1)
          .select(col("doc_id"), toks.as("tk"), size(toks).as("n"))
          .select(col("doc_id"), col("tk"),
            posexplode(sequence(lit(1), col("n"), lit(spanLen))))
          .select(col("doc_id"), col("pos").cast("long").as("span_idx"),
            concat_ws(" ", slice(col("tk"), col("col"), lit(spanLen))).as("span"))
          // first-occurrence survivor over the span HASH: the window
          // shuffles a 32-char key, not the raw span text, as the
          // partition key (the text still rides along for reassembly)
          .withColumn("h", md5(col("span")))
        val w = Window.partitionBy(col("h"))
          .orderBy(col("doc_id"), col("span_idx"))
        spans
          .withColumn("keep", row_number().over(w) === 1)
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_spans"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            md5(concat_ws(" ", transform(
              array_sort(collect_list(
                when(col("keep"), struct(col("span_idx"), col("span"))))),
              x => x.getField("span")))).as("kept_md5"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
          FROM documents),
        st AS (
          SELECT doc_id, tk, len(tk) AS n,
            generate_series(1, len(tk), 20) AS starts
          FROM t WHERE len(tk) >= 1),
        sp AS (
          SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS span_idx,
            array_to_string(tk[starts[u.i]:least(starts[u.i] + 19, n)], ' ') AS span
          FROM st, unnest(generate_series(1, len(starts))) AS u(i)),
        mk AS (
          SELECT doc_id, span_idx, span,
            row_number() OVER (PARTITION BY md5(span)
              ORDER BY doc_id, span_idx) = 1 AS keep
          FROM sp)
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_spans,
          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          md5(coalesce(array_to_string(
            array_agg(span ORDER BY span_idx) FILTER (WHERE keep), ' '), ''))
            AS kept_md5
        FROM mk GROUP BY doc_id
      """)),

    // ---- q132: inverted-index conjunctive search — docs containing
    //      ALL query terms, with per-doc total hits and earliest match
    //      position. The term filter lands BEFORE the shuffle (only
    //      matching postings move), which is the property that makes a
    //      posting-list query cheap at corpus scale. ----
    GraftQuery(
      "q132_inverted_index",
      (s, d) => {
        val terms = Seq("spark", "window", "hash")
        val postings = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))))
          .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
            col("col").as("tok"))
          .where(col("tok").isin(terms: _*))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"), min(col("p")).as("first_pos"))
        postings.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_terms"),
            sum(col("tf")).as("total_hits"),
            min(col("first_pos")).as("first_match"))
          .where(col("n_terms") === terms.size)
          .drop("n_terms")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
          FROM documents),
        tk AS (
          SELECT doc_id, toks[u.i] AS tok, CAST(u.i AS BIGINT) AS p
          FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
        posting AS (
          SELECT doc_id, tok, count(*) AS tf, min(p) AS first_pos
          FROM tk WHERE tok IN ('spark', 'window', 'hash')
          GROUP BY doc_id, tok)
        SELECT doc_id,
          CAST(sum(tf) AS BIGINT) AS total_hits,
          min(first_pos) AS first_match
        FROM posting GROUP BY doc_id HAVING count(*) = 3
      """)),

    // ---- q133: robust outlier gate per language — median / MAD over
    //      n_chars, outlier when |x - med| > 3·1.4826·MAD. Medians of
    //      integers and of their 0.5-grid absolute deviations are
    //      exactly representable doubles, and both engines interpolate
    //      as lo + (hi-lo)·f, so the report hash-matches exactly. The
    //      per-lang stats tables are broadcast back — three tiny-key
    //      shuffles, two broadcasts, no sort of the full data. ----
    GraftQuery(
      "q133_mad_outliers",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("lang"), col("n_chars"))
        val med = docs.groupBy(col("lang"))
          .agg(expr("percentile(n_chars, 0.5)").as("med"))
        val dev = docs.join(broadcast(med), Seq("lang"))
          .withColumn("ad", abs(col("n_chars") - col("med")))
        val mad = dev.groupBy(col("lang"))
          .agg(max(col("med")).as("med"), expr("percentile(ad, 0.5)").as("mad"))
        dev.drop("med").join(broadcast(mad), Seq("lang"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("med")).as("med"),
            max(col("mad")).as("mad"),
            sum(when(col("ad") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
              .as("n_outliers"))
      },
      Some("""
        WITH med AS (
          SELECT lang, quantile_cont(n_chars, 0.5) AS med
          FROM documents GROUP BY lang),
        dev AS (
          SELECT d.lang, abs(d.n_chars - m.med) AS ad, m.med
          FROM documents d JOIN med m USING (lang)),
        mad AS (
          SELECT lang, max(med) AS med, quantile_cont(ad, 0.5) AS mad
          FROM dev GROUP BY lang)
        SELECT v.lang,
          CAST(count(*) AS BIGINT) AS n_docs,
          max(a.med) AS med,
          max(a.mad) AS mad,
          CAST(sum(CASE WHEN v.ad > 4.4478 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
            AS n_outliers
        FROM dev v JOIN mad a ON v.lang = a.lang GROUP BY v.lang
      """)),

    // ---- q134: bigram-LM familiarity — corpus bigram counts scored
    //      back over each document; the 15 least-familiar docs (lowest
    //      mean corpus-frequency of their bigrams) are the gibberish
    //      candidates an n-gram LM filter would drop. Score kept
    //      integer: familiarity·10^6 div n_bigrams. TakeOrdered(15)
    //      on the final sort — no global window. ----
    GraftQuery(
      "q134_bigram_familiarity",
      (s, d) => {
        val toks = tokens(col("text"))
        val bi = Tables.documents(s, d)
          .where(tokenCount(col("text")) >= 2)
          .select(col("doc_id"), toks.as("tk"))
          .select(col("doc_id"), explode(zip_with(
            slice(col("tk"), lit(1), size(col("tk")) - 1),
            slice(col("tk"), lit(2), size(col("tk")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bg"))
        val g = bi.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        bi.join(g, Seq("bg"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("cnt")).as("familiarity"))
          .withColumn("score",
            expr("familiarity * 1000000L div n_bigrams"))
          .orderBy(col("score"), col("doc_id"))
          .limit(15)
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
          FROM documents),
        b AS (
          SELECT doc_id, tk[u.i] || ' ' || tk[u.i + 1] AS bg
          FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
          WHERE len(tk) >= 2),
        g AS (SELECT bg, count(*) AS cnt FROM b GROUP BY bg),
        f AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            CAST(sum(cnt) AS BIGINT) AS familiarity
          FROM b JOIN g USING (bg) GROUP BY doc_id)
        SELECT doc_id, n_bigrams, familiarity,
          CAST(familiarity * 1000000 // n_bigrams AS BIGINT) AS score
        FROM f ORDER BY score, doc_id LIMIT 15
      """)),

    // ---- q135: k-anonymity risk report — group size per
    //      quasi-identifier tuple (lang, source, n_chars-century);
    //      groups smaller than k=3 re-identify their members. Run
    //      this BEFORE publishing a "de-identified" extract. ----
    GraftQuery(
      "q135_k_anonymity",
      (s, d) => {
        val g = Tables.documents(s, d)
          .groupBy(col("lang"), col("source"),
            expr("n_chars div 100").as("bucket"))
          .agg(count(lit(1)).as("cnt"))
        g.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("cnt") < 3, 1L).otherwise(0L)).as("risky_groups"),
            sum(when(col("cnt") < 3, col("cnt")).otherwise(0L)).as("risky_docs"),
            min(col("cnt")).as("min_group"))
      },
      Some("""
        WITH g AS (
          SELECT lang, source, n_chars // 100 AS bucket, count(*) AS cnt
          FROM documents GROUP BY lang, source, bucket)
        SELECT lang,
          CAST(count(*) AS BIGINT) AS n_groups,
          CAST(sum(CASE WHEN cnt < 3 THEN 1 ELSE 0 END) AS BIGINT) AS risky_groups,
          CAST(sum(CASE WHEN cnt < 3 THEN cnt ELSE 0 END) AS BIGINT) AS risky_docs,
          CAST(min(cnt) AS BIGINT) AS min_group
        FROM g GROUP BY lang
      """)),

    // ---- q136: reproducible corpus shuffle-sharding — the "global
    //      shuffle" step of training-data prep, made deterministic so
    //      two runs (or two engines) produce byte-identical shards:
    //      shard = 60 bits of md5(seed, doc_id) mod 8, order within a
    //      shard = the same key. Per-shard md5 over doc_ids IN ORDER
    //      proves the full permutation, not just membership. Scale
    //      shape: pure map for assignment (no global sort), one
    //      groupBy(shard) whose per-shard window is balanced by
    //      construction (md5 is uniform). ----
    GraftQuery(
      "q136_shuffle_shards",
      (s, d) => {
        val k = md5(concat(lit("seed42:"), col("doc_id").cast("string")))
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"), k.as("k"))
          .withColumn("shard",
            conv(substring(col("k"), 1, 15), 16, 10).cast("long") % 8)
          .groupBy(col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            md5(concat_ws(",", transform(
              array_sort(collect_list(struct(col("k"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")))).as("order_md5"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, n_chars,
            md5('seed42:' || CAST(doc_id AS VARCHAR)) AS k
          FROM documents),
        s AS (
          SELECT doc_id, n_chars, k,
            CAST(concat('0x', substr(k, 1, 15)) AS BIGINT) % 8 AS shard
          FROM t)
        SELECT shard,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          md5(array_to_string(
            array_agg(CAST(doc_id AS VARCHAR) ORDER BY k, doc_id), ','))
            AS order_md5
        FROM s GROUP BY shard
      """)),

    // ---- q137: cross-source contamination matrix — how much content
    //      each pair of corpus sources SHARES, measured in winnow
    //      fingerprints (q127's sketch): the train/test-leakage audit
    //      run before mixing sources into a training corpus. Pair
    //      generation is the q128 group-and-expand shape on the
    //      fingerprint — per-fp source sets are bounded by the source
    //      count, never a corpus self-join. Overlap is reported in ppm
    //      of the SMALLER side's fingerprint set (integer div — exact
    //      both engines). ----
    GraftQuery(
      "q137_source_overlap",
      (s, d) => {
        val fps = Tables.documents(s, d).where(col("doc_id") < 200)
          .select(col("source"),
            explode(graft.functions.TextFunctions.winnow(col("text"), k = 5, w = 4))
              .as("fp"))
          .distinct()
        val sizes = fps.groupBy(col("source")).agg(count(lit(1)).as("n_fps"))
        val grouped = fps.groupBy(col("fp"))
          .agg(sort_array(collect_set(col("source"))).as("ss"))
          .where(size(col("ss")) > 1)
        val combos = flatten(transform(sequence(lit(0), size(col("ss")) - 2), i =>
          transform(sequence(i + 1, size(col("ss")) - 1), j =>
            struct(element_at(col("ss"), i + 1).as("a"),
              element_at(col("ss"), j + 1).as("b")))))
        grouped.select(explode(combos).as("p"))
          .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(sizes.select(col("source").as("src_a"), col("n_fps").as("fps_a"))), Seq("src_a"))
          .join(broadcast(sizes.select(col("source").as("src_b"), col("n_fps").as("fps_b"))), Seq("src_b"))
          .withColumn("overlap_ppm",
            expr("n_shared * 1000000L div least(fps_a, fps_b)"))
      },
      Some("""
        WITH d AS (SELECT doc_id, source, text FROM documents WHERE doc_id < 200),
        cp AS (SELECT doc_id, source,
            list_transform(generate_series(1, length(text)),
              i -> unicode(substr(text, i, 1))) AS cs
          FROM d),
        hs AS (SELECT doc_id, source,
            list_transform(generate_series(1, len(cs) - 4),
              i -> list_reduce(
                list_transform(cs[i:i+4], x -> CAST(x AS BIGINT)),
                (a, b) -> (a * 257 + b) % 1000000007)) AS h
          FROM cp WHERE len(cs) >= 5),
        win AS (SELECT doc_id, source,
            CASE WHEN len(h) <= 4 THEN [list_min(h)]
                 ELSE list_transform(generate_series(1, len(h) - 3),
                   j -> list_min(h[j:j+3])) END AS sel
          FROM hs),
        fps0 AS (SELECT source, unnest(list_distinct(sel)) AS fp FROM win),
        fps AS (SELECT DISTINCT source, fp FROM fps0),
        sizes AS (SELECT source, count(*) AS n_fps FROM fps GROUP BY source),
        shared AS (
          SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
          GROUP BY 1, 2)
        SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
          CAST(sa.n_fps AS BIGINT) AS fps_a,
          CAST(sb.n_fps AS BIGINT) AS fps_b,
          CAST(n_shared * 1000000 // least(sa.n_fps, sb.n_fps) AS BIGINT)
            AS overlap_ppm
        FROM shared
        JOIN sizes sa ON src_a = sa.source
        JOIN sizes sb ON src_b = sb.source
      """))
  )
}
