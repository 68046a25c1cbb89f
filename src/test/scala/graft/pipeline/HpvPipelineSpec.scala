package graft.pipeline

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, trim}
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.ingest.Workbook
import graft.ops.{CleanFrames, Rollup}

/** End-to-end golden test (SURVEY §5.2 tier 2): two synthesized
  * workbooks exercising every branch — sentinel in a measure, born-null
  * measure (dropped, N1), differing column sets across files (U1),
  * dropped %-and-2-doses columns (P1/P2), dirty LA names (E1/E2), and
  * per-file academic-year metadata (N7). Expected rows hand-computed.
  */
class HpvPipelineSpec extends SparkTestBase {

  private val D = LocalDate.of(2026, 1, 15)
  private val sqlD = java.sql.Date.valueOf(D)
  private val T24 = "September 2023 to August 2024"
  private val T25 = "September 2024 to August 2025"

  private def fileA = Workbook.fromGrid(Seq(
    Seq(s"HPV vaccination coverage for $T24"),
    Seq(""),
    Seq("Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated",
      "Year 8 females: % vaccinated", "Year 8 males: Number", "Year 8 males: Number vaccinated",
      "Year 8 2 doses: Number"),
    Seq(" camden ", "100", "80", "80.0", "90", "70", "5"),
    Seq("ISLINGTON", "*", "60", "50.0", "50", "40", "3"),
    Seq("enfield", "", "10", "10.0", "30", "20", "2")))

  private def fileB = Workbook.fromGrid(Seq(
    Seq(s"Coverage $T25"),
    Seq(""),
    Seq("Local authority", "Year 9 females: Number", "Year 9 females: Number vaccinated"),
    Seq("camden", "110", "95")))

  private def expected: Set[(String, String, String, Any, Any, Int, String, java.sql.Date)] = {
    def r(b: String, yg: String, g: String, t: Any, v: Any, y: Int, txt: String) =
      (b, yg, g, t, v, y, txt, sqlD)
    Set(
      // base (Enfield female born-null → dropped; Islington female '*' → null total)
      r("Camden", "8", "Female", 100L, 80L, 2024, T24),
      r("Camden", "8", "Male", 90L, 70L, 2024, T24),
      r("Islington", "8", "Female", null, 60L, 2024, T24),
      r("Islington", "8", "Male", 50L, 40L, 2024, T24),
      r("Enfield", "8", "Male", 30L, 20L, 2024, T24),
      r("Camden", "9", "Female", 110L, 95L, 2025, T25),
      // gender rollup (Both)
      r("Camden", "8", "Both", 190L, 150L, 2024, T24),
      r("Islington", "8", "Both", 50L, 100L, 2024, T24),
      r("Enfield", "8", "Both", 30L, 20L, 2024, T24),
      r("Camden", "9", "Both", 110L, 95L, 2025, T25),
      // year rollup (All) over base ∪ Both (N5)
      r("Camden", "All", "Female", 100L, 80L, 2024, T24),
      r("Camden", "All", "Male", 90L, 70L, 2024, T24),
      r("Camden", "All", "Both", 190L, 150L, 2024, T24),
      r("Islington", "All", "Female", null, 60L, 2024, T24), // D2: all-null group → null
      r("Islington", "All", "Male", 50L, 40L, 2024, T24),
      r("Islington", "All", "Both", 50L, 100L, 2024, T24),
      r("Enfield", "All", "Male", 30L, 20L, 2024, T24),
      r("Enfield", "All", "Both", 30L, 20L, 2024, T24),
      r("Camden", "All", "Female", 110L, 95L, 2025, T25),
      r("Camden", "All", "Both", 110L, 95L, 2025, T25))
  }

  test("golden: two workbooks → hand-computed fact table") {
    val out = frame(HpvPipeline.transform(Seq(fileA, fileB), D))
    assert(out.columns.toSeq == HpvPipeline.OutputSchema.fieldNames.toSeq)
    val got = out.collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        r.getInt(5), r.getString(6), r.getDate(7))
    }.toSet
    assert(got.size == out.count().toInt, "unexpected exact-duplicate rows")
    assert(got == expected,
      s"only-got=${got -- expected}\nonly-expected=${expected -- got}")
  }

  test("transform plans no query and runs no job: it returns one local relation") {
    for (compat <- Seq(HpvPipeline.Compat.Off, HpvPipeline.Compat.PandasExact)) {
      val (out, jobs, queries) =
        graft.JobCounter.withQueries(spark)(HpvPipeline.transform(Seq(fileA, fileB), D, compat))
      assert(queries == 0 && jobs == 0,
        s"compat=$compat: transform ran $queries query execution(s) and $jobs job(s)")
      assert(out.data.size == expected.size)
    }
  }

  /** The stacked rows' raw schema: the grain and measure names of the
    * reference's combine, the measures still strings. */
  private val rawSchema = StructType(Seq(
    StructField("Borough_Name", StringType),
    StructField("Year_Group_Number", StringType),
    StructField("Gender_Name", StringType),
    StructField("Students_Total", StringType),
    StructField("Students_Vaccinated", StringType),
    StructField("Academic_Year_End_Date", IntegerType),
    StructField("Academic_Year_Text", StringType),
    StructField("Date_Extract", DateType)))

  /** The spec oracle: the reference's combine verbatim over the stacked
    * workbooks — dropna, scrub, cast, then the two rollups by union
    * (`Rollup.byUnion`).
    */
  private def faithfulCombine(stacked: DataFrame, compat: HpvPipeline.Compat): DataFrame = {
    val scrubbed = CleanFrames.sentinelsToNull(
      CleanFrames.dropNullRows(stacked, HpvPipeline.Measures))
    val typed = HpvPipeline.Measures.foldLeft(scrubbed)((d, m) =>
      d.withColumn(m, trim(col(m)).cast(LongType)))
    val grain = rawSchema.fieldNames.toSeq.filterNot(HpvPipeline.Measures.contains)
    val rolled = Rollup.byUnion(typed, grain, HpvPipeline.Measures,
      ("Gender_Name", "Both"), ("Year_Group_Number", "All"),
      pandasExact = compat == HpvPipeline.Compat.PandasExact)
    rolled.toDF(rolled.columns.map(_.toUpperCase).toIndexedSeq: _*)
  }

  test("single-shuffle combine (grouping sets) ≡ faithful combine") {
    // incl. repeated grain (D7, null boroughs) and both compat modes
    val inputs = Seq(Seq(fileA, fileB), Seq(fileA, fileA, fileB), Seq(nullBoroughs))
    for (wbs <- inputs; compat <- Seq(HpvPipeline.Compat.Off, HpvPipeline.Compat.PandasExact)) {
      val stacked = HpvPipeline.stack(wbs, D, compat)
      withClue(s"compat=$compat files=${wbs.size}: ") {
        assertSameRows(frame(HpvPipeline.combine(stacked, compat)),
          faithfulCombine(spark.createDataFrame(stacked.asJava, rawSchema), compat))
      }
    }
  }

  /** (borough, year group, gender, total, vaccinated) multiset. */
  private def cells(out: DataFrame): Map[(String, String, String, Any, Any), Int] =
    out.collect().toSeq.map { r =>
      (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4))
    }.groupBy(identity).view.mapValues(_.size).toMap

  private def grid(a1: String, header: Seq[String], rows: Seq[String]*): Workbook =
    Workbook.fromGrid(Seq(Seq(a1), Seq(""), "Local authority" +: header) ++ rows)

  private val y8F = Seq("Year 8 females: Number", "Year 8 females: Number vaccinated")

  test("R1/R2: a duplicate cleaned LA name fails loud, naming the key") {
    val wb = grid(s"x $T24", y8F, Seq("camden", "1", "1"), Seq(" Camden ", "2", "2"))
    val e = intercept[IllegalStateException](HpvPipeline.stack(Seq(wb), D))
    assert(e.getMessage.contains("pivot grain (Local authority, Year Group, Gender, Metric) not unique"))
    assert(e.getMessage.contains("[Camden,8,Female,Number,2]"), e.getMessage)
  }

  test("R1/R2: two headers deriving one pivot key fail loud") {
    val header = Seq("Year 8 females: Number", "Y8 females: Number", "Year 8 females: Number vaccinated")
    val e = intercept[IllegalStateException](
      HpvPipeline.stack(Seq(grid(s"x $T24", header, Seq("camden", "1", "2", "1"))), D))
    assert(e.getMessage.contains("[Camden,8,Female,Number,2]"), e.getMessage)
    // the check needs data rows, like the pivot it replaces
    assert(HpvPipeline.stack(Seq(grid(s"x $T24", header)), D).isEmpty)
  }

  test("R1/R2: kept headers land; an absent metric gives a null measure") {
    val wb = grid(s"x $T24",
      Seq("Year 8 females: Number", "Year 8 females: Number vaccinated", "Year 9 males: Number",
        "Year 9 males: % vaccinated"),
      Seq("camden", "10", "5", "7", "70.0"), Seq("barnet", "20", "6", "8", "*"))
    // rows in OutputSchema column order, the measures still raw strings
    val out = HpvPipeline.stack(Seq(wb), D).map(_.toSeq)
    def r(b: String, yg: String, g: String, t: String, v: String) = Seq(b, yg, g, t, v, 2024, T24, sqlD)
    assert(out.sortBy(_.mkString("|")) == Seq(
      r("Barnet", "8", "Female", "20", "6"), r("Barnet", "9", "Male", "8", null),
      r("Camden", "8", "Female", "10", "5"), r("Camden", "9", "Male", "7", null)))
  }

  test("golden D7: a repeated academic year keeps both base rows; the rollups double-count") {
    val wb = grid(s"x $T24", y8F, Seq("camden", "10", "5"))
    val out = frame(HpvPipeline.transform(Seq(wb, wb), D))
    assert(cells(out) == Map(
      ("Camden", "8", "Female", 10L, 5L) -> 2,
      ("Camden", "8", "Both", 20L, 10L) -> 1,
      ("Camden", "All", "Female", 20L, 10L) -> 1,
      ("Camden", "All", "Both", 20L, 10L) -> 1))
  }

  /** `*` and a blank cell in the borough column both end as null
    * boroughs; `[E]` does too under pandas title-casing, while initcap
    * (D1) lowers it to `[e]`, which no sentinel matches.
    */
  private def nullBoroughs = grid(s"x $T24", y8F,
    Seq("*", "10", "5"), Seq("[E]", "20", "9"), Seq("", "30", "1"),
    Seq("camden", "40", "4"), Seq("islington", "*", "7"))

  test("golden: `*` and a blank borough give two null-borough base rows, rolled together") {
    val out = frame(HpvPipeline.transform(Seq(nullBoroughs), D))
    assert(cells(out) == Map(
      (null, "8", "Female", 10L, 5L) -> 1, (null, "8", "Female", 30L, 1L) -> 1,
      ("[e]", "8", "Female", 20L, 9L) -> 1, ("Camden", "8", "Female", 40L, 4L) -> 1,
      ("Islington", "8", "Female", null, 7L) -> 1,
      (null, "8", "Both", 40L, 6L) -> 1, ("[e]", "8", "Both", 20L, 9L) -> 1,
      ("Camden", "8", "Both", 40L, 4L) -> 1, ("Islington", "8", "Both", null, 7L) -> 1,
      (null, "All", "Female", 40L, 6L) -> 1, (null, "All", "Both", 40L, 6L) -> 1,
      ("[e]", "All", "Female", 20L, 9L) -> 1, ("[e]", "All", "Both", 20L, 9L) -> 1,
      ("Camden", "All", "Female", 40L, 4L) -> 1, ("Camden", "All", "Both", 40L, 4L) -> 1,
      ("Islington", "All", "Female", null, 7L) -> 1, ("Islington", "All", "Both", null, 7L) -> 1))
  }

  test("golden: Compat.PandasExact — `[E]` scrubs too, null-key groups drop, all-null sums are 0") {
    val out = frame(HpvPipeline.transform(Seq(nullBoroughs), D, HpvPipeline.Compat.PandasExact))
    assert(cells(out) == Map(
      (null, "8", "Female", 10L, 5L) -> 1, (null, "8", "Female", 20L, 9L) -> 1,
      (null, "8", "Female", 30L, 1L) -> 1, ("Camden", "8", "Female", 40L, 4L) -> 1,
      ("Islington", "8", "Female", null, 7L) -> 1,
      ("Camden", "8", "Both", 40L, 4L) -> 1, ("Islington", "8", "Both", 0L, 7L) -> 1,
      ("Camden", "All", "Female", 40L, 4L) -> 1, ("Camden", "All", "Both", 40L, 4L) -> 1,
      ("Islington", "All", "Female", 0L, 7L) -> 1, ("Islington", "All", "Both", 0L, 7L) -> 1))
  }

  test("D3: unmatched A1 still yields (null) metadata columns, no crash") {
    val wb = Workbook.fromGrid(Seq(
      Seq("garbage header"),
      Seq(""),
      Seq("Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated"),
      Seq("camden", "10", "5")))
    val out = frame(HpvPipeline.transform(Seq(wb), D))
    val row = out.where(out("YEAR_GROUP_NUMBER") === "8").head()
    assert(row.isNullAt(out.columns.indexOf("ACADEMIC_YEAR_END_DATE")))
    assert(row.isNullAt(out.columns.indexOf("ACADEMIC_YEAR_TEXT")))
  }

  test("D3: a blank A1 beside a filled B1 yields null metadata; D7 reports it unparsed") {
    // readers pad a blank A1 with null when row 1 has a later cell
    def wb = Workbook.fromGrid(Seq(
      Seq(null, "Provisional"),
      Seq(""),
      Seq("Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated"),
      Seq("camden", "10", "5")))
    assert(wb.a1 == "")
    val out = frame(HpvPipeline.transform(Seq(wb), D))
    val row = out.where(out("YEAR_GROUP_NUMBER") === "8").head()
    assert(row.isNullAt(out.columns.indexOf("ACADEMIC_YEAR_END_DATE")))
    assert(row.isNullAt(out.columns.indexOf("ACADEMIC_YEAR_TEXT")))
    assert(HpvPipeline.duplicateAcademicYears(Seq(wb, wb)) == Seq((None, 2)))
  }

  test("D6: sentinel in a key column forms a null-key group (SQL semantics)") {
    val wb = Workbook.fromGrid(Seq(
      Seq(s"x $T24"),
      Seq(""),
      Seq("Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated"),
      Seq("*", "10", "5"),
      Seq("camden", "20", "9")))
    val out = frame(HpvPipeline.transform(Seq(wb), D))
    // the '*' borough becomes a null borough key but still aggregates:
    // base + Both + All·Female + All·Both
    assert(out.where(out("BOROUGH_NAME").isNull).count() == 4)
    val nullRows = out.where(out("BOROUGH_NAME").isNull)
      .select("YEAR_GROUP_NUMBER", "GENDER_NAME").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(nullRows == Set(("8", "Female"), ("8", "Both"), ("All", "Female"), ("All", "Both")))
  }

  test("data past the last header column fails loud (no silent truncation)") {
    val e = intercept[IllegalArgumentException] {
      Workbook.fromGrid(Seq(
        Seq("a1"), Seq(""),
        Seq("Local authority", "Year 8 females: Number"),
        Seq("camden", "10", "stray-extra-value")))
    }
    assert(e.getMessage.contains("stray-extra-value"))
  }

  test("workbook CSV staging round-trip (S2 header offset + S3 A1 capture)") {
    val tmp = java.nio.file.Files.createTempFile("wb", ".csv")
    java.nio.file.Files.writeString(tmp,
      s"""Coverage $T24,,
         |,,
         |Local authority,Year 8 females: Number,Year 8 females: Number vaccinated
         | camden ,100,80
         |""".stripMargin)
    val wb = Workbook.readCsvGrid(tmp.toString)
    assert(wb.a1 == s"Coverage $T24")
    assert(wb.header == Seq("Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated"))
    val out = frame(HpvPipeline.transform(Seq(wb), D))
    assert(out.count() == 4) // base + Both + All·Female + All·Both
    java.nio.file.Files.delete(tmp)
  }

  test("readCsvGrid refuses a csv that is not UTF-8, naming the file") {
    // a cp1252 export: NBSP is the single byte 0xA0, malformed in UTF-8
    val tmp = java.nio.file.Files.createTempFile("wb", ".csv")
    java.nio.file.Files.write(tmp,
      s"Coverage $T24,,\n,,\nLocal authority,Year 8 females: Number\n".getBytes("UTF-8") ++
        Array(0xA0.toByte) ++ "Camden,10\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Workbook.readCsvGrid(tmp.toString))
    assert(e.getMessage.contains(tmp.toString) && e.getMessage.contains("UTF-8"), e.getMessage)
    java.nio.file.Files.delete(tmp)
  }

  test("refusals name the workbook: no Local authority column, no measure, duplicate grain") {
    def csv(header: String, rows: String*): java.nio.file.Path = {
      val tmp = java.nio.file.Files.createTempFile("wb", ".csv")
      java.nio.file.Files.writeString(tmp, (Seq(s"Coverage $T24,,", ",,", header) ++ rows)
        .mkString("", "\n", "\n"))
      tmp
    }
    val noId = csv("Area,Year 8 females: Number,Year 8 females: Number vaccinated", "camden,1,1")
    val dupLa = csv("Local authority,Year 8 females: Number,Year 8 females: Number vaccinated",
      "camden,1,1", "CAMDEN,2,2")
    val noMeasure = csv("Local authority,Year 8 females: % vaccinated", "camden,50.0")
    try {
      val e = intercept[IllegalArgumentException](HpvPipeline.transform(
        Seq(fileA, Workbook.readCsvGrid(noId.toString)), D))
      assert(e.getMessage.startsWith(s"$noId: "), e.getMessage)
      assert(e.getMessage.contains("'Local authority'"), e.getMessage)
      val g = intercept[IllegalStateException](HpvPipeline.transform(
        Seq(Workbook.readCsvGrid(dupLa.toString)), D))
      assert(g.getMessage.startsWith(s"$dupLa: pivot grain"), g.getMessage)
      val m = intercept[IllegalArgumentException](HpvPipeline.transform(
        Seq(Workbook.readCsvGrid(noMeasure.toString)), D))
      assert(m.getMessage.contains(s"$noMeasure: workbook has no measure columns"), m.getMessage)
    } finally Seq(noId, dupLa, noMeasure).foreach(java.nio.file.Files.delete)
  }

  test("the Local authority column matches case-insensitively; two such columns are refused") {
    def wb(ids: String*) = Workbook.fromGrid(Seq(
      Seq(s"Coverage $T25"), Seq(""),
      ids ++ Seq("Year 9 females: Number", "Year 9 females: Number vaccinated"),
      ids.map(_ => "camden") ++ Seq("110", "95")))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(frame(HpvPipeline.transform(Seq(wb("LOCAL AUTHORITY")), D))) ==
      rows(frame(HpvPipeline.transform(Seq(wb("Local authority")), D))))
    val e = intercept[IllegalArgumentException](
      HpvPipeline.transform(Seq(wb("Local authority", "Local Authority")), D))
    assert(e.getMessage.contains("expected one 'Local authority' column in the header, found 2"),
      e.getMessage)
  }

  test("a measure that is not a number after the scrub fails transform with CAST_INVALID_INPUT") {
    val wb = grid(s"x $T24", y8F, Seq("camden", "12 pupils", "5"), Seq("barnet", "*", "6"))
    val e = intercept[Exception](HpvPipeline.transform(Seq(wb), D))
    assert(e.getMessage.contains("CAST_INVALID_INPUT") && e.getMessage.contains("12 pupils"),
      e.getMessage)
  }

  test("N1 before the cast: a non-number beside a born-null measure is dropped, never cast") {
    val wb = grid(s"x $T24", y8F, Seq("camden", "12 pupils", ""), Seq("barnet", "7", "6"))
    val out = frame(HpvPipeline.transform(Seq(wb), D))
    assert(cells(out).keySet.map(_._1) == Set("Barnet"))
  }

  test("N2 matches a sentinel exactly: a padded ' * ' is not scrubbed, so its cast fails") {
    val wb = grid(s"x $T24", y8F, Seq("camden", " * ", "5"))
    val e = intercept[Exception](HpvPipeline.transform(Seq(wb), D))
    // the cast sees the trimmed value
    assert(e.getMessage.contains("CAST_INVALID_INPUT") && e.getMessage.contains("'*'"),
      e.getMessage)
  }

  test("a rolled sum past Long.MaxValue fails with an overflow, never wraps") {
    val max = Long.MaxValue.toString
    val wb = grid(s"x $T24", y8F ++ Seq("Year 8 males: Number", "Year 8 males: Number vaccinated"),
      Seq("camden", max, "5", "1", "6"))
    val e = intercept[ArithmeticException](HpvPipeline.transform(Seq(wb), D))
    assert(e.getMessage.toLowerCase.contains("overflow"), e.getMessage)
  }

  test("D7: the duplicate-year warning is ASCII and names the year") {
    val wb = grid(s"x $T24", y8F, Seq("camden", "10", "5"))
    val buf = new java.io.ByteArrayOutputStream
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try HpvPipeline.transform(Seq(wb, wb), D) finally System.setErr(err)
    val lines = buf.toString("UTF-8").linesIterator.filter(_.contains("(D7)")).toSeq
    assert(lines.size == 1, buf.toString("UTF-8"))
    assert(lines.head.forall(_ < 128) && lines.head.contains("academic year 2024"), lines.head)
  }

  test("D7: duplicate academic years across workbooks are detected") {
    assert(HpvPipeline.duplicateAcademicYears(Seq(fileA, fileB)).isEmpty)
    assert(HpvPipeline.duplicateAcademicYears(Seq(fileA, fileA, fileB)) ==
      Seq((Some(2024), 2)))
  }
}
