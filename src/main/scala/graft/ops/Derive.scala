package graft.ops

import org.apache.spark.sql.catalyst.util.CollationSupport.{InitCap, Lower, Upper}
import org.apache.spark.sql.catalyst.util.UTF8StringUtils
import org.apache.spark.unsafe.types.UTF8String

/** Scalar derivations E1-E8 (SURVEY.md §2.4) as driver functions. E1-E5
  * and the measure cast equal the Catalyst expressions named in their
  * docs, value for value (`DeriveEquivalenceSpec`): trimming, case
  * mapping and the cast call Spark's own scalar kernels. Null derives to
  * null, except in E4/E5, whose `otherwise` default covers it.
  */
object Derive {

  /** E1+E2 (divergence D1): `initcap(trim(c))`. `initcap` treats only
    * whitespace as word boundaries ("king's lynn" → "King's Lynn"),
    * unlike pandas `str.title` which capitalizes after any non-alpha
    * ("King'S Lynn") — initcap is the correct behavior for LA names and
    * matches the DuckDB oracle.
    */
  def cleanName(s: String): String =
    onUtf8(s)(u => InitCap.execBinaryICU(u.trim()))

  /** D1 COMPAT lane (opt-in, round 11): pandas `str.title` semantics to
    * the letter — a letter is uppercased iff the PREVIOUS character is
    * non-alphabetic (so "king's lynn" → "King'S Lynn", apostrophe
    * included), all other letters lowercased: the fold
    * `aggregate(split(trim(c), ""), "", ...)` over code points, where
    * `upper(prev) = lower(prev)` is the "not a letter" test ('' ⇒
    * true). Default pipelines keep [[cleanName]] (initcap), which is the
    * better behavior for LA names and what the oracle encodes; this lane
    * exists for byte-parity with the reference output.
    */
  def cleanNamePandasTitle(s: String): String = onUtf8(s)(_.trim().toString.codePoints.toArray
    .foldLeft(UTF8String.EMPTY_UTF8) { (acc, cp) =>
      val prev = acc.substringSQL(-1, 1)
      val x = UTF8String.fromString(Character.toString(cp))
      UTF8String.concat(acc,
        if (Upper.execBinaryICU(prev) == Lower.execBinaryICU(prev)) Upper.execBinaryICU(x)
        else Lower.execBinaryICU(x))
    })

  /** E3: first digit-run in a melted header name, `regexp_extract(c,
    * "(\\d+)", 1)`; null (not "") when absent — `regexp_extract` returns
    * "" on no-match where pandas returns NaN.
    */
  def yearGroupFromHeader(h: String): String =
    if (h == null) null else "\\d+".r.findFirstIn(h).orNull

  /** E4 (N6): any header not containing "females" is Male — verbatim
    * reference substring test, including hypothetical "persons" headers.
    */
  def genderFromHeader(h: String): String =
    if (h != null && h.contains("females")) "Female" else "Male"

  /** E5: case-insensitive "vaccinated" test selects the metric name. */
  def metricFromHeader(h: String): String =
    if (h != null && onUtf8(h)(Lower.execBinaryICU).contains("vaccinated")) "Number_Vaccinated"
    else "Number"

  /** A raw measure cell as a count: `trim(c).cast(LongType)` under
    * ANSI, so a cell that is not a whole number fails with
    * `CAST_INVALID_INPUT`, naming the trimmed value.
    */
  def measure(s: String): java.lang.Long =
    if (s == null) null else UTF8StringUtils.toLongExact(UTF8String.fromString(s).trim(), null)

  private def onUtf8(s: String)(f: UTF8String => UTF8String): String =
    if (s == null) null else f(UTF8String.fromString(s)).toString

  // --- driver-side scalar extraction (E6-E8; evaluated once per file
  //     on cell A1 — SURVEY §2.2 P7) ---

  /** E6: last whitespace token of A1 as the academic-year end, e.g.
    * "... September 2023 to August 2024" → 2024. None when unparseable
    * (divergence D3 family: fail-soft + validate rather than crash).
    */
  def academicYearEnd(a1: String): Option[Int] =
    a1.trim.split("\\s+").lastOption.flatMap(_.toIntOption)

  /** E7 (D3): the academic-year phrase; None when A1 doesn't match (the
    * engine still always adds the column, as null).
    */
  def academicYearText(a1: String): Option[String] =
    "([A-Za-z]+ \\d{4} to [A-Za-z]+ \\d{4})".r.findFirstIn(a1)
}
