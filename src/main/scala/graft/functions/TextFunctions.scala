package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline surface
  * (north star, SURVEY.md §0): tokenization, shingling, fingerprinting,
  * quality metrics, language-ID scoring, and a portable MinHash.
  *
  * Everything is a composition of codegen'd built-ins (no UDFs): the
  * whole family stays inside whole-stage codegen and is therefore safe
  * in 100-TB scans.
  *
  * Cross-engine determinism: the MinHash permutation family is
  * `md5(i || '|' || shingle)` with the minimum taken in LEXICOGRAPHIC
  * order over the hex strings — identical in any engine with md5 (the
  * DuckDB oracle replicates it verbatim), unlike engine-private hashes
  * (xxhash64/murmur) which are Spark-only.
  */
object TextFunctions {

  /** Lowercased non-whitespace token runs (no empty tokens — mirrors
    * `regexp_extract_all(lower(x), '\S+')` in the oracle). Fused
    * byte-scan kernel (expressions.TokenArray): identical output to the
    * regex formulation — the \s byte-class equivalence argument lives on
    * TokenShingles — at a fraction of the per-row cost.
    */
  def tokens(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.TokenArray(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Token count without materializing the token array (zero-alloc
    * scan). Null text → null (the regex formulation's size(null) → -1
    * never occurs: fixture text is non-null, and the DuckDB oracles'
    * len(...) would disagree on nulls anyway).
    */
  def tokenCount(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.TokenCount(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Distinct word n-gram shingles straight from raw text — the fused
    * lowercase→tokenize→shingle→distinct kernel (one pass, inside
    * codegen). Equals `shingles(tokens(c), n)` wherever that is defined
    * (≥ n tokens) and the empty array below (no guard needed).
    */
  def textShingles(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.TokenShingles(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), n))

  /** ALL word n-grams in start-position order (non-distinct sibling of
    * textShingles): element i is the gram at 0-based token position i,
    * so posexplode gives positional matchers their (pos, gram) pairs in
    * one fused pass.
    */
  def textShinglesAll(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.TokenShinglesAll(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), n))

  /** BPE-style pre-tokenization pattern (GPT-2-shaped, ASCII-simplified
    * and RE2-compatible — no lookahead, so the IDENTICAL pattern runs in
    * the DuckDB oracle): contractions, space-prefixed letter runs, digit
    * runs, punctuation runs. A real BPE vocab merge would run over these
    * pre-tokens; counting them is the standard "tokens ≈ cost" estimate.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9']+|\\s+"

  /** BPE-ish pre-tokens (whitespace-only matches dropped; tokens keep
    * their leading-space marker, BPE-style).
    */
  def bpeTokens(c: Column): Column =
    filter(regexp_extract_all(lower(c), lit(BpePattern), lit(0)),
      t => trim(t) =!= "")

  def bpeTokenCount(c: Column): Column = size(bpeTokens(c)).cast("long")

  /** Whitespace-normalized lowercase text (dedup canonical form). */
  def normalized(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Rolling document fingerprint: md5 of the canonical form. */
  def fingerprint(c: Column): Column = md5(normalized(c))

  /** Engine-portable 60-bit uniform hash: first 15 hex chars of md5,
    * parsed base-16 (non-negative, < 2^60, so it fits a long exactly).
    * Oracle form: `CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)`.
    * Feeds KmvDistinct and any sampler that must replicate cross-engine.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Unicode NFC normalization (composed form) — canonicalize BEFORE
    * hashing/fingerprinting, or visually-equal strings with different
    * codepoint sequences survive dedup. ≡ DuckDB `nfc_normalize`.
    */
  def nfc(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.UnicodeNormalize(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), "NFC"))

  /** Unicode NFD normalization (decomposed form). */
  def nfd(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.UnicodeNormalize(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), "NFD"))

  /** Accent stripping: decompose, then drop combining marks (\p{Mn}) —
    * ≡ DuckDB `strip_accents` on Latin text.
    */
  def stripAccents(c: Column): Column =
    regexp_replace(nfd(c), "\\p{Mn}", "")

  /** Winnowing rolling-hash fingerprints (MOSS): distinct per-window
    * minima of k-codepoint-gram polynomial hashes — substring-level
    * copy detection (see expressions.RollingWinnow).
    */
  def winnow(c: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.RollingWinnow(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), k, w))

  /** Distinct word n-gram shingles of a token array (1-based
    * `element_at`, same as the oracle's `toks[i]`). Callers must ensure
    * size(toks) >= n (concat-with-null semantics differ across engines).
    */
  def shingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))
    array_distinct(grams)
  }

  /** Portable MinHash signature: k lexicographic-min salted-md5 values
    * over the shingle set (custom one-pass expression; bit-identical to
    * `transform(sequence(0,k-1), i -> array_min(transform(sh, s ->
    * md5(concat(i,'|',s)))))` which the DuckDB oracle replicates).
    */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.MinHashSig(
        org.apache.spark.sql.graft.ColumnBridge.expression(shingleSet), k))

  /** Exact Jaccard similarity of two pre-distinct string arrays as
    * (n_inter, n_union) — division left to the caller so outputs stay
    * integer-exact until the last step.
    */
  def jaccardParts(a: Column, b: Column): (Column, Column) =
    (size(array_intersect(a, b)).cast("long"),
      size(array_union(a, b)).cast("long"))

  // ---- PII redaction (training-corpus scrubbing) ----

  /** RE2-safe PII patterns (no lookaround/backreference), so the DuckDB
    * oracle applies the LITERALLY identical strings — pattern parity is
    * by construction, not by argument. Application order matters and is
    * part of the contract (see [[redactPii]]): email before phone so a
    * digit-bearing local part is consumed as an address, IPv4 before
    * the bare-id run so octets never half-match as account numbers.
    */
  val PiiEmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhonePattern: String =
    "(\\+\\d{1,2}[- ])?(\\(\\d{3}\\)[ -]?|\\d{3}[ -])\\d{3}[ -]\\d{4}"
  val PiiIdPattern: String = "\\b\\d{8,16}\\b"

  /** The ordered redaction chain: email → IPv4 → phone → bare 8-16
    * digit id runs, each replaced by its typed tag. A pure map over the
    * codegen'd regexp_replace — no shuffle, scale-trivial; serves the
    * "keep the text, lose the identifier" obligation (q149).
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, PiiEmailPattern, "<EMAIL>"),
          PiiIpv4Pattern, "<IP>"),
        PiiPhonePattern, "<PHONE>"),
      PiiIdPattern, "<ID>")

  /** Crawler-grade URL canonicalization — the key under which a crawl
    * dedups pages: strip the fragment (client-side only), lowercase the
    * scheme+authority (case-insensitive per RFC 3986) and drop default
    * ports, and remove tracking query parameters (utm_*, gclid,
    * fbclid) while keeping meaningful ones. The whole chain is plain
    * regexp/substring/lower — codegen'd, no UDF — over a regex subset
    * (no lookaround) that Java regex and RE2 interpret identically, so
    * a DuckDB oracle replicates it verbatim (q156; pass 'g' there —
    * DuckDB's regexp_replace is first-match by default, Spark's is
    * global). Path case and trailing slashes are deliberately kept:
    * paths are case-sensitive and policy-dependent. Assumes '&' occurs
    * only as a query separator (a literal '&' in the PATH must arrive
    * percent-encoded, as RFC-conformant producers emit it) — the
    * tracking passes anchor on it.
    */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val auth = regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", 0)
    val rest = noFrag.substr(length(auth) + 1, length(noFrag))
    // default ports are SCHEME-specific: :443 on https and :80 on http
    // are no-ops; http://h:443 is a different endpoint and must keep
    // its port
    val authC = regexp_replace(
      regexp_replace(lower(auth), "^(https://[^:/?]*):443$", "$1"),
      "^(http://[^:/?]*):80$", "$1")
    // two passes, BOTH anchored on the [?&] separator (unanchored, the
    // old pass 1 matched MID-NAME: "?xgclid=5&y=1" lost a legitimate
    // param and merged its prefix into the next key). Pass 1 consumes a
    // whole RUN of &-terminated tracked params in one match (restoring
    // the captured separator) — per-param matching would skip every
    // second one of a consecutive run, because the next match must
    // start where the previous ended and the separator is consumed.
    // Pass 2 then drops the one possible leftover: a tracked param at
    // end-of-string.
    val r1 = regexp_replace(rest,
      "([?&])(?:(?:utm_[a-z]+|gclid|fbclid)=[^&]*&)+", "$1")
    val r2 = regexp_replace(r1, "[?&](utm_[a-z]+|gclid|fbclid)=[^&]*$", "")
    concat(authC, r2)
  }

  /** Raw-DEFLATE compressed byte length (see
    * [[graft.expressions.DeflateLen]]) — pair with `length()` for the
    * compression-ratio quality signal: repetitive spam compresses far
    * below natural prose, base64/minified blobs barely compress at all.
    */
  def deflateLen(c: Column, level: Int = 6): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.DeflateLen(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), level))

  /** Independent per-type match count over the ORIGINAL text (group 0
    * matches, before any redaction — the audit metric, not a residual
    * check; a digit-heavy email local part legitimately counts under
    * both email and id).
    */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")

  // ---- quality metrics (all integer counts; ratios derived exactly) ----

  def charCount(c: Column): Column = length(c).cast("long")

  /** Count of characters in `c` matching regex class `cls`. */
  def charClassCount(c: Column, cls: String): Column =
    (length(c) - length(regexp_replace(c, cls, ""))).cast("long")

  def distinctTokenCount(c: Column): Column =
    size(array_distinct(tokens(c))).cast("long")

  /** Distinct stopword types present (list_intersect semantics — same
    * in the oracle). */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(array_intersect(array_distinct(toks), array(markers.map(lit): _*))).cast("long")

  /** Per-language marker lexicons for the n-gram/stopword language-ID
    * heuristic. Tiny by design — language ID at scale is a scoring
    * problem, not a model problem, and these stay codegen-friendly.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "los", "y", "es", "una", "que"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5")) // pinyin-ish placeholders
}
