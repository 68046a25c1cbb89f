package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** The [[Derive]] driver functions equal the Catalyst expressions they
  * stand for, value for value, over an adversarial corpus: null, blanks,
  * spaces beside tabs and NBSP, apostrophes and hyphens, digits, case
  * mappings that change length or have a title case (é ß İ Σ ǆ), and
  * numbers Spark's cast parses or refuses. Each Catalyst form is written
  * out here as the oracle; the D1 compat lane's oracle is Python's
  * `str.title`, as literal goldens.
  */
class DeriveEquivalenceSpec extends SparkTestBase {

  private val corpus: Seq[String] = Seq(
    null, "", " ", "\t", "\u00a0", "  camden  ", "\tcamden\t", "\u00a0camden\u00a0",
    " \t king's lynn \u00a0", "KING'S LYNN", "stoke-on-trent", "o'neill-SMITH", "a1b c",
    "st. albans", "  multiple   inner  spaces ", "tab\tinside", "école élémentaire",
    "ßtraße STRASSE", "İstanbul İSTANBUL istanbul", "ΣΊΣΥΦΟΣ σίσυφος ς", "ǆungla ǅ Ǆ",
    "ﬁsh ﬂoor", "[E]", "[e]", "*", " * ",
    "Year 8 females: Number", "Year 8 females: Number vaccinated", "Year 10 Males: NUMBER VACCINATED",
    "Y8 FEMALES: % Vaccinated", "Year 8 females: Number VACCİNATED", "Year ٨ females", "Year １２",
    "year8females", "no digits here",
    "+12", "-0", " 12 ", "\t12\t", "\u00a012", "1e3", "12.0", "12.", ".5", "007", "1_000", "0x10",
    "12 pupils", "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "１２")

  private def frame(values: Seq[String]) = spark.createDataFrame(
    values.map(Row(_)).asJava, StructType(Seq(StructField("c", StringType))))

  /** `driver` against `catalyst` on every corpus value, one row each. */
  private def assertEquivalent(driver: String => String)(catalyst: Column => Column): Unit = {
    val got = frame(corpus).select(catalyst(col("c"))).collect().map(_.getString(0)).toSeq
    val mismatches = corpus.zip(got).collect {
      case (v, want) if driver(v) != want => s"[$v]: driver [${driver(v)}], catalyst [$want]"
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("E1/E2 cleanName equals initcap(trim(c))") {
    assertEquivalent(Derive.cleanName)(c => initcap(trim(c)))
  }

  /** Python 3.11's `str.title` after a space trim, over [[corpus]]:
    * `[None if v is None else v.strip(' ').title() for v in corpus]`.
    * No Catalyst form gives these: `upper` maps `ß` to `SS` where
    * Python title-cases it to `Ss`, and `lower` never yields a final
    * `ς`.
    */
  private val pandasTitle: Seq[String] = Seq(
    null, "", "", "\t", "\u00a0", "Camden", "\tCamden\t", "\u00a0Camden\u00a0",
    "\t King'S Lynn \u00a0", "King'S Lynn", "Stoke-On-Trent", "O'Neill-Smith", "A1B C",
    "St. Albans", "Multiple   Inner  Spaces", "Tab\tInside", "École Élémentaire",
    "Sstraße Strasse", "İstanbul İstanbul Istanbul", "Σίσυφος Σίσυφος Σ", "ǅungla ǅ ǅ",
    "Fish Floor", "[E]", "[E]", "*", "*",
    "Year 8 Females: Number", "Year 8 Females: Number Vaccinated", "Year 10 Males: Number Vaccinated",
    "Y8 Females: % Vaccinated", "Year 8 Females: Number Vacci\u0307nated", "Year ٨ Females", "Year １２",
    "Year8Females", "No Digits Here",
    "+12", "-0", "12", "\t12\t", "\u00a012", "1E3", "12.0", "12.", ".5", "007", "1_000", "0X10",
    "12 Pupils", "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "１２")

  // the oracle is Python's str.title (goldens above), not the Catalyst fold
  test("D1 cleanNamePandasTitle equals the pandas-title aggregate(split(...)) fold") {
    assert(pandasTitle.size == corpus.size)
    val mismatches = corpus.zip(pandasTitle).collect {
      case (v, want) if Derive.cleanNamePandasTitle(v) != want =>
        s"[$v]: driver [${Derive.cleanNamePandasTitle(v)}], python [$want]"
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("E3 yearGroupFromHeader equals regexp_extract, with no match as null") {
    assertEquivalent(Derive.yearGroupFromHeader) { c =>
      val d = regexp_extract(c, "(\\d+)", 1)
      when(d === "", lit(null)).otherwise(d)
    }
  }

  test("E4/E5 gender and metric equal their when/contains forms, null included") {
    assertEquivalent(Derive.genderFromHeader)(c =>
      when(c.contains("females"), "Female").otherwise("Male"))
    assertEquivalent(Derive.metricFromHeader)(c =>
      when(lower(c).contains("vaccinated"), "Number_Vaccinated").otherwise("Number"))
  }

  test("measure equals trim(c).cast(LongType) under ANSI: the value, or the error class and parameters") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    def outcome(f: => Any): Either[(String, Map[String, String]), Any] =
      try Right(f) catch {
        case e: SparkThrowable => Left((e.getCondition, e.getMessageParameters.asScala.toMap))
      }
    val outcomes = corpus.map { v =>
      (v, outcome(Derive.measure(v)),
        outcome(frame(Seq(v)).select(trim(col("c")).cast(LongType)).head().get(0)))
    }
    val mismatches = outcomes.collect {
      case (v, driver, catalyst) if driver != catalyst => s"[$v]: driver $driver, catalyst $catalyst"
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    // the corpus reaches both sides of the cast
    assert(outcomes.count(_._2.isRight) >= 5 && outcomes.count(_._2.isLeft) >= 5)
  }
}
