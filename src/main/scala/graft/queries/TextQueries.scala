package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Text-analysis + deduplication coverage over the `documents` fixture
  * (the LLM-data-pipeline surface): token/char statistics, quality
  * metrics, language-ID heuristic, fingerprinting, exact dedup,
  * MinHash+LSH near-dup detection (oracle replicates the deterministic
  * salted-md5 algorithm end-to-end), blocked exact n-gram Jaccard, and
  * SimHash (Spark-only: xxhash64 has no DuckDB equivalent — covered by
  * a planted-duplicate spec instead).
  */
object TextQueries {

  private val langCase =
    """CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
      |     WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
      |     WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
      |     WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
      |     WHEN s_es >= s_zh THEN 'es'
      |     ELSE 'zh' END""".stripMargin

  /** DuckDB replica of the salted-md5 MinHash+LSH algorithm (same
    * candidates, same exact-Jaccard verification — bit-for-bit). Shared
    * by q34 (verbatim) and q55 (with the fast-path agreement flag
    * appended via `extra`).
    */
  private def minhashMd5OracleSql(extra: String = ""): String = s"""
    WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') toks FROM documents),
    s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
            i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) sh
          FROM t WHERE len(toks) >= 3),
    m AS (SELECT doc_id, sh, list_transform(generate_series(0, 15),
            i -> list_min(list_transform(sh, x -> md5(concat(i, '|', x))))) sig
          FROM s),
    bands AS (SELECT doc_id, b, concat(sig[2*b+1], sig[2*b+2]) bsig
              FROM m, unnest(generate_series(0, 7)) AS u(b)),
    cand AS (SELECT DISTINCT x.doc_id da, y.doc_id db
             FROM bands x JOIN bands y
               ON x.b = y.b AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
    v AS (SELECT da AS doc_a, db AS doc_b,
            len(list_intersect(sa.sh, sb.sh)) n_inter,
            len(list_distinct(list_concat(sa.sh, sb.sh))) n_union
          FROM cand JOIN s sa ON sa.doc_id = da JOIN s sb ON sb.doc_id = db)
    SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
      CAST(n_union AS BIGINT) AS n_union,
      CAST(n_inter AS DOUBLE) / n_union AS jaccard$extra
    FROM v WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.3
  """

  val queries: Seq[GraftQuery] = Seq(

    // ---- q30: corpus statistics per language label ----
    GraftQuery(
      "q30_text_stats",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("lang"), col("source"),
            tokenCount(col("text")).as("nt"), charCount(col("text")).as("nc"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nt")).as("sum_tokens"),
            sum(col("nc")).as("sum_chars"),
            (sum(col("nt")).cast("double") / count(lit(1))).as("avg_tokens"),
            countDistinct(col("source")).as("n_sources")),
      Some("""
        WITH t AS (SELECT lang, source,
            CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT) nt,
            CAST(length(text) AS BIGINT) nc
          FROM documents)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(nt) AS BIGINT) AS sum_tokens,
          CAST(sum(nc) AS BIGINT) AS sum_chars,
          CAST(sum(nt) AS DOUBLE) / count(*) AS avg_tokens,
          count(DISTINCT source) AS n_sources
        FROM t GROUP BY lang
      """)),

    // ---- q31: per-document quality metrics (integer-exact) ----
    GraftQuery(
      "q31_text_quality",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            charCount(col("text")).as("n_chars"),
            tokenCount(col("text")).as("n_tokens"),
            distinctTokenCount(col("text")).as("n_distinct"),
            charClassCount(col("text"), "[.,!?;:]").as("n_punct"),
            charClassCount(col("text"), "[0-9]").as("n_digits"))
          .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens")),
      Some("""
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(regexp_extract_all(lower(text), '\S+'))) AS BIGINT) AS n_distinct,
          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
          CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
          CAST(len(list_distinct(regexp_extract_all(lower(text), '\S+'))) AS DOUBLE)
            / len(regexp_extract_all(lower(text), '\S+')) AS ttr
        FROM documents
      """)),

    // ---- q32: language-ID heuristic → confusion counts vs the label ----
    GraftQuery(
      "q32_lang_id",
      (s, d) => {
        val base = Tables.documents(s, d)
          .withColumn("tk", array_distinct(tokens(col("text"))))
        val scored = LangMarkers.foldLeft(base) { case (df, (l, ms)) =>
          df.withColumn(s"s_$l", markerHits(col("tk"), ms))
        }
        scored
          .withColumn("predicted", expr(langCase))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""
        WITH t AS (SELECT lang, list_distinct(regexp_extract_all(lower(text), '\\S+')) tk FROM documents),
        sc AS (SELECT lang,
          CAST(len(list_intersect(tk, ['the','a','of','and','to','is','in'])) AS BIGINT) s_en,
          CAST(len(list_intersect(tk, ['der','die','das','und','nicht','ist'])) AS BIGINT) s_de,
          CAST(len(list_intersect(tk, ['le','la','et','les','des','est'])) AS BIGINT) s_fr,
          CAST(len(list_intersect(tk, ['el','los','y','es','una','que'])) AS BIGINT) s_es,
          CAST(len(list_intersect(tk, ['de5','shi4','bu4','le5'])) AS BIGINT) s_zh
          FROM t)
        SELECT lang, $langCase AS predicted, count(*) AS n
        FROM sc GROUP BY 1, 2
      """)),

    // ---- q33: exact dedup via canonical-form fingerprint ----
    GraftQuery(
      "q33_dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text"),
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
          min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY 1
      """)),

    // ---- q34: MinHash+LSH near-dup pairs, exact-verified; the oracle
    //      replicates the salted-md5 algorithm (same candidates, same
    //      verification) so results match bit-for-bit ----
    GraftQuery(
      "q34_dedup_minhash_lsh",
      (s, d) => Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, tau = 0.3),
      Some(minhashMd5OracleSql())),

    // ---- q56: BPE-ish token accounting — the "how many tokens will
    //      this corpus cost" query. Same RE2-safe pattern both engines;
    //      whitespace-only matches dropped on both sides ----
    GraftQuery(
      "q56_bpe_tokens",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            tokenCount(col("text")).as("n_ws_tokens"),
            bpeTokenCount(col("text")).as("n_bpe_tokens"))
          .withColumn("bpe_per_word",
            col("n_bpe_tokens").cast("double") / col("n_ws_tokens")),
      Some {
        // SQL string literal: double the quotes, leave backslashes alone
        // (DuckDB '...' literals have no backslash escapes)
        val pat = graft.functions.TextFunctions.BpePattern.replace("'", "''")
        s"""
        WITH b AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT) AS n_ws_tokens,
            CAST(len(list_filter(regexp_extract_all(lower(text), '$pat'),
              t -> trim(t) != '')) AS BIGINT) AS n_bpe_tokens
          FROM documents)
        SELECT doc_id, n_ws_tokens, n_bpe_tokens,
          CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens AS bpe_per_word
        FROM b
      """}),

    // ---- q55: the FAST MinHash path (one xxhash64 per shingle + k
    //      multiply-add permutations instead of k md5 digests). The
    //      xxhash64 candidate set is Spark-private (engine-internal
    //      seeds), so the oracle is reduced-assertion (q97 precedent):
    //      the query RETURNS the md5 path's pairs — which DuckDB
    //      replicates bit-for-bit (q34's oracle) — plus `fast_ok`
    //      pinning the fast path's recall of high-sim (j ≥ 0.7) md5
    //      pairs ≥ 0.9 (measured 1.0 at sf0.01 AND sf0.1; at j = 0.7
    //      the 8×2 banding theoretically finds 99.7% of candidates).
    //      DedupSpec separately pins planted-dup recall; reported
    //      jaccard is exact in both paths. ----
    GraftQuery(
      "q55_dedup_minhash_fast",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // The md5 baseline is q34's WORK, re-used here only as the
        // recall anchor — so the bench stages it via prepare (build
        // seconds land in the `builds` map; the q55 probe row times
        // ONLY the fast path + flag join, retiring the round-9
        // double-count). Unstaged callers (Verify, specs) build
        // inline: rebase (not bare localCheckpoint) because the
        // operator's internal shingle/band checkpoints are superseded
        // by this one and must be released here, or they leak past
        // the truncated plan. Either way the checkpoint feeds BOTH
        // the output rows and the recall flag without re-execution.
        val md5 = graft.core.Prepared
          .take[org.apache.spark.sql.DataFrame]("q55_dedup_minhash_fast")
          .getOrElse(graft.operators.Lineage.rebase(
            Dedup.minhashLsh(docs, "doc_id", "text",
              shingleN = 3, bands = 8, rowsPerBand = 2, tau = 0.3)))
        val hi = md5.where(col("jaccard") >= 0.7).select("doc_a", "doc_b")
        // Band collision is a PAIR-level event: (a,b) are candidates iff
        // one of their band signatures matches, regardless of what other
        // documents exist. So the fast path's verdict on the high-sim md5
        // pairs is identical whether it runs on the full corpus or only
        // on the documents those pairs mention — and the latter turns the
        // recall probe from a second full-corpus shingle+band pass
        // (r6 bench: the whole query cost 8.4 s for a ~1 s operator) into
        // a pass over the duplicate docs only. left_semi, not broadcast:
        // at web scale the duplicate-doc set is a large fraction of the
        // corpus (that is dedup's whole premise), so AQE picks the
        // exchange; on the fixture it broadcasts by size.
        val hiDocs = hi.select(col("doc_a").as("doc_id"))
          .union(hi.select(col("doc_b").as("doc_id"))).distinct()
        val fast = Dedup.minhashLshFast(
          docs.join(hiDocs, Seq("doc_id"), "left_semi"), "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2, tau = 0.3)
        val flag = hi
          .join(fast.select(col("doc_a"), col("doc_b"))
            .withColumn("_hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
          // no high-sim pairs → vacuously true, not a null flag
          .agg(coalesce(sum(col("_hit")) / count(lit(1)), lit(1.0)).as("_r"))
          .select((col("_r") >= 0.9).cast("long").as("fast_ok"))
        md5.crossJoin(broadcast(flag))
      },
      Some(minhashMd5OracleSql(",\n      CAST(1 AS BIGINT) AS fast_ok")),
      prepare = Some((s, d) => graft.core.Prepared.put("q55_dedup_minhash_fast",
        graft.operators.Lineage.rebase(
          Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
            shingleN = 3, bands = 8, rowsPerBand = 2, tau = 0.3))))),

    // ---- q35: exact bigram Jaccard within a blocking key ----
    GraftQuery(
      "q35_dedup_ngram_blocked",
      (s, d) => Dedup.ngramJaccardBlocked(Tables.documents(s, d), "doc_id", "text", "source",
        n = 2, tau = 0.25),
      Some("""
        WITH t AS (SELECT doc_id, source, regexp_extract_all(lower(text), '\S+') toks FROM documents),
        s AS (SELECT doc_id, source, list_distinct(list_transform(generate_series(1, len(toks)-1),
                i -> concat(toks[i], ' ', toks[i+1]))) sh
              FROM t WHERE len(toks) >= 2)
        SELECT x.source AS block, x.doc_id AS doc_a, y.doc_id AS doc_b,
          CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_inter,
          CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS BIGINT) AS n_union,
          CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
        FROM s x JOIN s y ON x.source = y.source AND x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.25
      """)),

    // ---- q36: SimHash near-dup pairs over xxhash64 token hashes.
    //      xxhash64 is not in DuckDB, so the oracle is
    //      reduced-assertion (q97 precedent): the query RETURNS the
    //      portable md5-family pairs — which DuckDB replicates
    //      bit-for-bit (q79's oracle) — plus `xx_ok` pinning the
    //      xxhash path's recall of near-identical (hamming ≤ 1)
    //      portable pairs ≥ 0.75 (measured 1.0 at sf0.01, 0.93 at
    //      sf0.1; the families share no hash bits, so borderline pairs
    //      legitimately disagree — near-identical ones must not).
    //      maxHamming=5 measured on the fixture corpus: true near-dup
    //      pairs sit at Hamming 0-5, spurious same-vocab pairs ramp up
    //      from 5 — 12 would admit ~1400 false candidates ----
    GraftQuery(
      "q36_dedup_simhash",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // staged: the portable banded pair pipeline feeds BOTH the
        // output rows and the recall flag — unstaged it runs twice.
        // rebase: release the operator's internal staging this
        // checkpoint supersedes (the q55 leak pattern)
        val portable = graft.operators.Lineage.rebase(
          Dedup.simhash60Pairs(docs, "doc_id", "text", maxHamming = 5))
        val near = portable.where(col("hamming") <= 1).select("doc_a", "doc_b")
        // Same pair-level argument as q55: a SimHash fingerprint is a
        // per-document function and band collision a per-pair event, so
        // the xxhash path scores the near-identical portable pairs
        // identically on the full corpus and on just the docs those
        // pairs mention. Probe the subset, not the corpus.
        val nearDocs = near.select(col("doc_a").as("doc_id"))
          .union(near.select(col("doc_b").as("doc_id"))).distinct()
        val xx = Dedup.simhashPairs(
          docs.join(nearDocs, Seq("doc_id"), "left_semi"), "doc_id", "text", maxHamming = 5)
        val flag = near
          .join(xx.select(col("doc_a"), col("doc_b"))
            .withColumn("_hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
          // no near-identical pairs → vacuously true, not a null flag
          .agg(coalesce(sum(col("_hit")) / count(lit(1)), lit(1.0)).as("_r"))
          .select((col("_r") >= 0.75).cast("long").as("xx_ok"))
        portable.crossJoin(broadcast(flag))
      },
      Some(TextQueries2.simhash60PairsOracleSql(", CAST(1 AS BIGINT) AS xx_ok"))),

    // ---- q126: INCREMENTAL dedup — a new batch (source src0) against
    //      the existing corpus (everything else), the daily-ingest
    //      shape that never re-dedups the corpus against itself. Same
    //      portable salted-md5 signatures as q34, so the oracle
    //      replicates the full algorithm including the candidate set;
    //      the band join is batch×corpus, not a self-join. ----
    GraftQuery(
      "q126_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.minhashLshIncremental(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"),
          "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2, tau = 0.3)
      },
      Some("""
        WITH t AS (SELECT doc_id, source, regexp_extract_all(lower(text), '\S+') toks FROM documents),
        s AS (SELECT doc_id, source, list_distinct(list_transform(generate_series(1, len(toks)-2),
                i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) sh
              FROM t WHERE len(toks) >= 3),
        m AS (SELECT doc_id, source, sh, list_transform(generate_series(0, 15),
                i -> list_min(list_transform(sh, x -> md5(concat(i, '|', x))))) sig
              FROM s),
        bands AS (SELECT doc_id, source, b, concat(sig[2*b+1], sig[2*b+2]) bsig
                  FROM m, unnest(generate_series(0, 7)) AS u(b)),
        cand AS (SELECT DISTINCT x.doc_id dn, y.doc_id dod
                 FROM bands x JOIN bands y
                   ON x.b = y.b AND x.bsig = y.bsig
                 WHERE x.source = 'src0' AND y.source <> 'src0'),
        v AS (SELECT dn AS doc_new, dod AS doc_old,
                len(list_intersect(sa.sh, sb.sh)) n_inter,
                len(list_distinct(list_concat(sa.sh, sb.sh))) n_union
              FROM cand JOIN s sa ON sa.doc_id = dn JOIN s sb ON sb.doc_id = dod)
        SELECT doc_new, doc_old, CAST(n_inter AS BIGINT) AS n_inter,
          CAST(n_union AS BIGINT) AS n_union,
          CAST(n_inter AS DOUBLE) / n_union AS jaccard
        FROM v WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.3
      """)),

    // ---- q127: winnowing rolling-hash fingerprints (the MOSS
    //      algorithm) — substring-level copy detection: any shared run
    //      of ≥ k+w−1 codepoints between two docs shares a fingerprint.
    //      The hash is a plain (acc·B + codepoint) mod P left fold per
    //      k-gram ≡ DuckDB's list_reduce (which seeds with the first
    //      element — identical sequence since 0·B + c = c), windows
    //      take list_min, output is the distinct value set, so tie
    //      position is irrelevant and the oracle matches bit-for-bit. ----
    GraftQuery(
      "q127_winnow_fingerprints",
      (s, d) =>
        Tables.documents(s, d).where(col("doc_id") < 100)
          .select(col("doc_id"),
            explode(graft.functions.TextFunctions.winnow(col("text"), k = 5, w = 4))
              .as("fp")),
      Some("""
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        cp AS (SELECT doc_id,
            list_transform(generate_series(1, length(text)),
              i -> unicode(substr(text, i, 1))) AS cs
          FROM d),
        hs AS (SELECT doc_id,
            list_transform(generate_series(1, len(cs) - 4),
              i -> list_reduce(
                list_transform(cs[i:i+4], x -> CAST(x AS BIGINT)),
                (a, b) -> (a * 257 + b) % 1000000007)) AS h
          FROM cp WHERE len(cs) >= 5),
        win AS (SELECT doc_id,
            CASE WHEN len(h) <= 4 THEN [list_min(h)]
                 ELSE list_transform(generate_series(1, len(h) - 3),
                   j -> list_min(h[j:j+3])) END AS sel
          FROM hs)
        SELECT doc_id, CAST(unnest(list_distinct(sel)) AS BIGINT) AS fp
        FROM win
      """)),

    // ---- q128: substring-copy pairs — docs sharing ≥ 50 winnow
    //      fingerprints (q127's sketch), i.e. likely shared passages of
    //      ≥ k+w−1 chars. Pair generation is the q35 group-and-expand
    //      shape on the fingerprint (one shuffle on fp, i<j pairs
    //      expanded in-array, count per pair) — never a self-join of
    //      the corpus. ----
    GraftQuery(
      "q128_copy_pairs",
      (s, d) => {
        val fps = Tables.documents(s, d).where(col("doc_id") < 200)
          .select(col("doc_id"),
            explode(graft.functions.TextFunctions.winnow(col("text"), k = 5, w = 4))
              .as("fp"))
        val grouped = fps.groupBy(col("fp"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
          .where(size(col("ds")) > 1)
        val combos = flatten(transform(sequence(lit(0), size(col("ds")) - 2), i =>
          transform(sequence(i + 1, size(col("ds")) - 1), j =>
            struct(element_at(col("ds"), i + 1).as("a"), element_at(col("ds"), j + 1).as("b")))))
        grouped.select(explode(combos).as("p"))
          .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 50)
      },
      Some("""
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        cp AS (SELECT doc_id,
            list_transform(generate_series(1, length(text)),
              i -> unicode(substr(text, i, 1))) AS cs
          FROM d),
        hs AS (SELECT doc_id,
            list_transform(generate_series(1, len(cs) - 4),
              i -> list_reduce(
                list_transform(cs[i:i+4], x -> CAST(x AS BIGINT)),
                (a, b) -> (a * 257 + b) % 1000000007)) AS h
          FROM cp WHERE len(cs) >= 5),
        win AS (SELECT doc_id,
            CASE WHEN len(h) <= 4 THEN [list_min(h)]
                 ELSE list_transform(generate_series(1, len(h) - 3),
                   j -> list_min(h[j:j+3])) END AS sel
          FROM hs),
        fps AS (SELECT doc_id, unnest(list_distinct(sel)) AS fp FROM win)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(count(*) AS BIGINT) AS n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 50
      """)),

    // ---- q130: sliding-window document chunking — the context-window
    //      preprocessing every embedding/RAG pipeline runs: 50-token
    //      chunks at stride 40 (10-token overlap), windows start every
    //      `stride` tokens until the start passes n − overlap, the
    //      final chunk truncating at the document end. Pure
    //      sequence/slice builtins, one explode — no shuffle until the
    //      caller aggregates. Chunk content is pinned by md5 of the
    //      space-joined tokens. ----
    GraftQuery(
      "q130_doc_chunks",
      (s, d) => {
        val chunkLen = 50; val stride = 40; val overlap = chunkLen - stride
        val toks = tokens(col("text"))
        Tables.documents(s, d)
          .where(tokenCount(col("text")) >= 1)
          .select(col("doc_id"), toks.as("tk"), size(toks).as("n"))
          .select(col("doc_id"), col("tk"), col("n"),
            posexplode(sequence(lit(1), greatest(col("n") - overlap, lit(1)), lit(stride))))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
            slice(col("tk"), col("col"), lit(chunkLen)).as("chunk"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).cast("long").as("n_tokens"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
          FROM documents),
        st AS (
          SELECT doc_id, tk, len(tk) AS n,
            generate_series(1, greatest(len(tk) - 10, 1), 40) AS starts
          FROM t WHERE len(tk) >= 1),
        ch AS (
          SELECT doc_id,
            CAST(u.i - 1 AS BIGINT) AS chunk_idx,
            tk[starts[u.i]:least(starts[u.i] + 49, n)] AS chunk
          FROM st, unnest(generate_series(1, len(starts))) AS u(i))
        SELECT doc_id, chunk_idx,
          CAST(len(chunk) AS BIGINT) AS n_tokens,
          md5(array_to_string(chunk, ' ')) AS chunk_md5
        FROM ch
      """))
  )
}
