package graft.ops

import java.util.Locale

import com.ibm.icu.lang.{UCharacter, UProperty}
import com.ibm.icu.text.CaseMap
import org.apache.spark.sql.catalyst.util.UTF8StringUtils
import org.apache.spark.unsafe.types.UTF8String

/** Scalar derivations E1-E8 (SURVEY.md §2.4) as driver functions. E1-E5
  * and the measure cast equal the Catalyst expressions named in their
  * docs, value for value (`DeriveEquivalenceSpec`). Trimming and the
  * cast call Spark's own `UTF8String` kernels. Case mapping calls ICU
  * directly, in the steps of Spark 4.1's `initcap` and `lower`
  * (`CollationAwareUTF8String.toTitleCaseICU` and `toLowerCase`):
  * that class's static initializer title-cases all 1,114,112 code
  * points into a lookup table, about 1.7 s of a cold JVM for the few
  * hundred names one nightly run cleans. The D1 compat lane equals
  * Python's `str.title` instead, checked against goldens from
  * `python3`. Null derives to null, except in E4/E5, whose `otherwise`
  * default covers it.
  */
object Derive {

  /** E1+E2 (divergence D1): `initcap(trim(c))`. `initcap` treats only
    * whitespace as word boundaries ("king's lynn" → "King's Lynn"),
    * unlike pandas `str.title` which capitalizes after any non-alpha
    * ("King'S Lynn") — initcap is the correct behavior for LA names and
    * matches the DuckDB oracle.
    */
  def cleanName(s: String): String =
    if (s == null) null else initcap(UTF8String.fromString(s).trim().makeValid().toString)

  /** Spark's ICU `initcap`: a code point at the start or after an ASCII
    * space takes its title case, a one-to-many mapping where ICU's full
    * title case has one; `Σ` takes the final-sigma rule, whose
    * case-ignorable skip equals Spark's running "preceded by a cased
    * letter" state; `İ` lowers to `i` and U+0307; any other code point
    * takes its simple lowercase.
    */
  private def initcap(s: String): String = {
    val cps = s.codePoints.toArray
    val out = new java.lang.StringBuilder(s.length)
    for (i <- cps.indices) {
      val cp = cps(i)
      if (i == 0 || cps(i - 1) == ' ') appendTitleCase(out, cp)
      else if (cp == 'Σ') out.append(if (finalSigma(cps, i)) 'ς' else 'σ')
      else if (cp == 'İ') out.append("i\u0307")
      else out.appendCodePoint(UCharacter.toLowerCase(cp))
    }
    out.toString
  }

  /** ASCII title-cases to one code point, so ICU's full mapping, with
    * its word-break iterator, is asked only past ASCII.
    */
  private def appendTitleCase(out: java.lang.StringBuilder, cp: Int): Unit = {
    val full = if (cp < 0x80) null else UCharacter.toTitleCase(Character.toString(cp), null)
    if (full != null && full.codePointCount(0, full.length) > 1) out.append(full)
    else out.appendCodePoint(UCharacter.toTitleCase(cp))
  }

  /** D1 COMPAT lane (opt-in, round 11): Python's `str.title` to the
    * letter, after a space `trim`. A character after a cased one takes
    * its full lowercase mapping, with the final-sigma rule for `Σ`; any
    * other takes its full title-case mapping ("king's lynn" → "King'S
    * Lynn", "ßtraße" → "Sstraße", "ǆungla" → "ǅungla"). Default
    * pipelines keep [[cleanName]] (initcap), which is the better
    * behavior for LA names and what the oracle encodes; this lane
    * exists for byte-parity with the reference output.
    */
  def cleanNamePandasTitle(s: String): String =
    if (s == null) null
    else {
      val cps = UTF8String.fromString(s).trim().toString.codePoints.toArray
      val out = new java.lang.StringBuilder
      for (i <- cps.indices) {
        val c = Character.toString(cps(i))
        out.append(
          if (i == 0 || !cased(cps(i - 1))) TitleCase.apply(Locale.ROOT, null, c)
          else if (cps(i) == 'Σ') (if (finalSigma(cps, i)) "ς" else "σ")
          else LowerCase.apply(Locale.ROOT, c))
      }
      out.toString
    }

  private val TitleCase = CaseMap.toTitle().wholeString().noBreakAdjustment()
  private val LowerCase = CaseMap.toLower()

  private def cased(cp: Int): Boolean = UCharacter.hasBinaryProperty(cp, UProperty.CASED)

  /** Unicode's Final_Sigma context: a cased letter before `Σ` and none
    * after it, skipping case-ignorable characters on both sides.
    */
  private def finalSigma(cps: Array[Int], i: Int): Boolean = {
    def nearest(side: Iterator[Int]) =
      side.find(cp => !UCharacter.hasBinaryProperty(cp, UProperty.CASE_IGNORABLE))
    nearest(cps.take(i).reverseIterator).exists(cased) &&
      !nearest(cps.iterator.drop(i + 1)).exists(cased)
  }

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

  /** E5: case-insensitive "vaccinated" test selects the metric name,
    * over Spark's ICU `lower`: an ASCII fast path, else ICU's full
    * lowercase of the valid string.
    */
  def metricFromHeader(h: String): String =
    if (h != null && lower(h).contains("vaccinated")) "Number_Vaccinated" else "Number"

  private def lower(s: String): String = {
    val u = UTF8String.fromString(s)
    if (u.isFullAscii) u.toLowerCaseAscii.toString else UCharacter.toLowerCase(u.toValidString)
  }

  /** A raw measure cell as a count: `trim(c).cast(LongType)` under
    * ANSI, so a cell that is not a whole number fails with
    * `CAST_INVALID_INPUT`, naming the trimmed value.
    */
  def measure(s: String): java.lang.Long =
    if (s == null) null else UTF8StringUtils.toLongExact(UTF8String.fromString(s).trim(), null)

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
