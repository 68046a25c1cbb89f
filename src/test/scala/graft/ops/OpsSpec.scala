package graft.ops

import graft.SparkTestBase

/** Unit coverage for the SURVEY §2 operator families (one test per
  * semantics note where the reference's behavior is subtle).
  */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("N1 ordering: dropna before sentinel replace keeps '*' rows") {
    val df = Seq(("a", "*", "1"), ("b", null, "2"), ("c", "3", "4"))
      .toDF("k", "total", "vacc")
    val dropped = Clean.dropNullRows(df, Seq("total", "vacc"))
    assert(dropped.count() == 2) // born-null 'b' gone, '*' row survives
    val scrubbed = Clean.sentinelsToNull(dropped)
    assert(scrubbed.where($"k" === "a").select("total").head().isNullAt(0))
  }

  test("N2 replace is full-frame: sentinels nulled in key columns too") {
    val df = Seq(("*", "1"), ("[E]", "2"), ("[DS]", "3"), ("ok", "4")).toDF("k", "v")
    val s = Clean.sentinelsToNull(df)
    assert(s.where($"k".isNull).count() == 3)
  }

  test("P1/P2 column drop by name predicate") {
    val names = Seq("la", "Y8: % vaccinated", "Y8 2 doses: Number", "Y8: Number")
    assert(names.filterNot(Clean.droppedByName) == Seq("la", "Y8: Number"))
  }

  test("E2/D1 initcap word semantics on apostrophes") {
    val out = Seq("king's lynn", " camden ").map(Derive.cleanName)
    assert(out == Seq("King's Lynn", "Camden")) // pandas would give King'S Lynn
  }

  test("D1 compat lane (round 11): pandas str.title to the letter") {
    val out = Seq("king's lynn", " camden ", "st. albans", "a1b c", "")
      .map(Derive.cleanNamePandasTitle)
    // pandas: >>> "king's lynn".title() -> "King'S Lynn";
    // digits are non-alpha so the letter after '1' capitalizes
    assert(out == Seq("King'S Lynn", "Camden", "St. Albans", "A1B C", ""))
  }

  test("E3 no-match regex yields null, not empty string") {
    val out = Seq("Year 8 females", "no digits here").map(Derive.yearGroupFromHeader)
    assert(out == Seq("8", null))
  }

  test("E4/N6 gender defaults Male; E5 metric is case-insensitive") {
    val out = Seq("Year 8 females: Number VACCINATED", "Year 8 persons: Number")
      .map(h => (Derive.genderFromHeader(h), Derive.metricFromHeader(h)))
    assert(out == Seq(("Female", "Number_Vaccinated"), ("Male", "Number")))
  }

  test("E6/E7 driver-side A1 extraction") {
    val a1 = "Coverage statistics, September 2023 to August 2024"
    assert(Derive.academicYearEnd(a1).contains(2024))
    assert(Derive.academicYearText(a1).contains("September 2023 to August 2024"))
    assert(Derive.academicYearEnd("garbage header").isEmpty)
    assert(Derive.academicYearText("garbage header").isEmpty)
  }
}
