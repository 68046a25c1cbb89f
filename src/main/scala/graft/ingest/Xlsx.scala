package graft.ingest

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Minimal JDK-only XLSX reader (SURVEY.md §7.3 / §2.1 S2-S3): an xlsx
  * file is a zip of OOXML XML parts, readable with `java.util.zip` +
  * StAX — no POI dependency (none exists in the offline jar set). The
  * workbook is opened by path with `java.util.zip.ZipFile` and never
  * held whole in memory: each consumed part streams out through the
  * central directory into its StAX parser.
  *
  * Scope is exactly the reference's need (`src/main.py:27,30`): one
  * named sheet, string-typed cell grid, header-row offset, cell A1
  * metadata — captured in a SINGLE pass over the sheet part, fixing the
  * reference's double scan (divergence D5). Shared strings, inline
  * strings, and raw numeric cell values are supported; formulas
  * evaluate to their cached `<v>` value; anything richer is out of
  * scope by design. Driver-side by design: workbook sheets are small
  * configuration-shaped inputs; bulk data enters via `spark.read`.
  */
object Xlsx {

  /** Read one sheet into a Workbook (grid semantics identical to
    * `Workbook.fromGrid`: row 0 = sheet row 1, cell A1 = metadata).
    * Needs no Spark session.
    */
  def readWorkbook(path: String, sheetName: String, headerRow: Int = 2): Workbook =
    Workbook.fromSource(readGrid(path, sheetName), headerRow, path)

  /** [[readWorkbook]] for callers that still pass a session, which is
    * ignored. Goes away once the benchmark's HPV mode calls the
    * session-free form (ROADMAP direction 1, step 2).
    */
  def readWorkbook(spark: SparkSession, path: String, sheetName: String): Workbook =
    readWorkbook(path, sheetName)

  /** Workbook file-size bound of [[readGrid]], checked before the file
    * is opened. The file is never held whole: parts stream out of it
    * through the zip central directory, so one workbook's residency is
    * the parsed string grid plus the inflater buffers. A workbook above
    * the bound still fails loudly WITH ITS PATH — a 256 MB+ "workbook"
    * is almost always a mislabeled data export that belongs in
    * `spark.read` (house fail-loud style).
    */
  val MaxWorkbookBytes: Long = 256L << 20

  /** Zip-bomb guard: max DECOMPRESSED size of any single consumed zip
    * part. A crafted xlsx can expand a few KB of deflate into GBs of
    * sharedStrings; reading is cut off at the bound with a loud error.
    */
  val MaxPartBytes: Long = 128L << 20

  /** The reference's glob step (S1): every file with `ext` under `dir`,
    * sorted for deterministic processing order. */
  def glob(dir: String, ext: String = ".xlsx"): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.filter(f => f.isFile && f.getName.toLowerCase.endsWith(ext.toLowerCase))
      .map(_.getPath).sorted.toSeq
  }

  /** Parse the named sheet of the workbook at `path` into a padded
    * string cell grid. The size is checked against [[MaxWorkbookBytes]]
    * before the file is opened; parts are then opened by name through
    * the zip central directory (`java.util.zip.ZipFile`) and streamed
    * into the StAX parsers, each inflate bounded by `maxPartBytes`.
    * Parts the reader never consumes (media, themes, pivot caches) are
    * never inflated.
    *
    * Every failure is an IllegalArgumentException naming `path`: the
    * reader's own refusals already name it (the zip-bomb message among
    * them, passed through unchanged); anything else — a corrupt zip,
    * truncated XML, a non-numeric shared-string index — is wrapped as
    * "not a readable xlsx".
    */
  def readGrid(
      path: String, sheetName: String,
      maxPartBytes: Long = MaxPartBytes): Seq[Seq[String]] =
    try {
      val size = java.nio.file.Files.size(java.nio.file.Paths.get(path))
      require(size <= MaxWorkbookBytes,
        s"$path: $size bytes exceeds the workbook bound of $MaxWorkbookBytes")
      val zip = new java.util.zip.ZipFile(path)
      try {
        val parts = new ZipParts(zip, path, maxPartBytes)
        val shared = readSharedStrings(parts)
        val dateStyles = readDateStyles(parts)
        val (sheetPart, epoch1904) = resolveSheetPart(parts, sheetName)
        readSheet(parts, sheetPart, shared, dateStyles, epoch1904)
      } finally zip.close()
    } catch {
      // NumberFormatException is an IllegalArgumentException too: the
      // message test, not the type, tells a named refusal from a raw one
      case e: IllegalArgumentException
        if e.getMessage != null && e.getMessage.contains(path) => throw e
      case e: Exception =>
        throw new IllegalArgumentException(s"$path is not a readable xlsx: $e", e)
    }

  /** The workbook's parts by name. The zip-bomb refusal is a READ-SIDE
    * bound: the returned stream counts inflated bytes and throws past
    * `maxPartBytes` (sharedStrings/styles materialize parser-side
    * state, so unbounded inflation must cut off loudly rather than OOM).
    */
  private final class ZipParts(
      zip: java.util.zip.ZipFile, val describe: String, maxPartBytes: Long) {
    def open(name: String): Option[java.io.InputStream] =
      Option(zip.getEntry(name)).map(e => new BoundedStream(zip.getInputStream(e), name))

    /** Counts inflated bytes and refuses past the bound. */
    private final class BoundedStream(in: java.io.InputStream, name: String)
      extends java.io.FilterInputStream(in) {
      private var seen = 0L
      private def bump(n: Int): Int = {
        if (n > 0) {
          seen += n
          if (seen > maxPartBytes)
            throw new IllegalArgumentException(
              s"$describe: zip part $name inflates past the $maxPartBytes-byte " +
                "bound - refusing a probable zip bomb")
        }
        n
      }
      override def read(): Int = {
        val c = super.read(); if (c >= 0) bump(1); c
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        bump(super.read(b, off, len))
      // skip() inflates and DISCARDS — without this override the
      // inherited FilterInputStream.skip would bypass the bound
      // entirely for a parser that skips content (advice r11).
      override def skip(n: Long): Long = {
        val s = super.skip(n)
        if (s > 0) bump(math.min(s, Int.MaxValue).toInt)
        s
      }
    }
  }

  /** Built-in OOXML numFmtIds that render as dates/times (ECMA-376
    * §18.8.30): 14-22 core date/time, 27-36 locale era dates, 45-47
    * elapsed/time, 50-58 locale variants.
    */
  private val BuiltinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  /** A custom format code is date-like when it contains y/m/d/h/s
    * tokens OUTSIDE quoted literals, [..] sections (colors, conditions,
    * elapsed markers are bracketed) and backslash escapes — the same
    * heuristic spreadsheet readers use (month-vs-minute ambiguity is
    * irrelevant: either way the cell is a date/time serial).
    */
  private[ingest] def isDateFormatCode(code: String): Boolean = {
    val sb = new StringBuilder
    var i = 0
    var inQuote = false
    var inBracket = false
    while (i < code.length) {
      val c = code.charAt(i)
      if (inQuote) { if (c == '"') inQuote = false }
      else if (inBracket) { if (c == ']') inBracket = false }
      else c match {
        case '"' => inQuote = true
        case '[' => inBracket = true
        case '\\' => i += 1 // skip the escaped char
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString.toLowerCase.exists("ymdhs".contains(_))
  }

  /** styles.xml → per-cellXf-index "is a date format" flags. Custom
    * `<numFmt>` codes are classified by [[isDateFormatCode]]; only the
    * `<cellXfs>` list maps cell `s` indexes (cellStyleXfs does not).
    */
  private def readDateStyles(parts: ZipParts): IndexedSeq[Boolean] =
    withPart(parts, "xl/styles.xml") { r =>
      val customDate = mutable.Map.empty[Int, Boolean]
      val flags = mutable.ArrayBuffer.empty[Boolean]
      var inCellXfs = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "numFmt" =>
                for {
                  id <- attr(r, "numFmtId").flatMap(_.toIntOption)
                  code <- attr(r, "formatCode")
                } customDate(id) = isDateFormatCode(code)
              case "cellXfs" => inCellXfs = true
              case "xf" if inCellXfs =>
                val id = attr(r, "numFmtId").flatMap(_.toIntOption).getOrElse(0)
                flags += customDate.getOrElse(id, BuiltinDateFmts.contains(id))
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
            inCellXfs = false
          case _ =>
        }
      }
      flags.toIndexedSeq
    }.getOrElse(IndexedSeq.empty)

  /** Excel serial → ISO string. Day 0 is 1899-12-30 (the convention
    * that agrees with Excel for serials ≥ 61, i.e. any date from
    * 1900-03-01 — the 1900-leap-year-bug window below that is out of
    * scope, as in other readers). A fractional part is a time of day
    * (rounded to the nearest second): pure dates render `yyyy-MM-dd`,
    * datetimes `yyyy-MM-dd HH:mm:ss`.
    *
    * `epoch1904`: workbooks written with `<workbookPr date1904="1"/>`
    * (the Mac Excel lineage) count serials from 1904-01-01 — day 0 IS
    * 1904-01-01, with no leap-bug window. Reading such a workbook with
    * the 1900 epoch silently shifts every date by 1 462 days, so the
    * flag comes from workbook.xml per workbook, never a global default.
    */
  private[ingest] def serialToIso(serial: Double, epoch1904: Boolean = false): String = {
    val days = math.floor(serial).toLong
    val epoch = if (epoch1904) java.time.LocalDate.of(1904, 1, 1)
                else java.time.LocalDate.of(1899, 12, 30)
    val date = epoch.plusDays(days)
    val secs = math.round((serial - days) * 86400d)
    // A fraction a hair under midnight rounds to a full day: render it
    // as the NEXT day's pure date (what Excel displays), not as
    // "<next day> 00:00:00".
    if (secs == 0) date.toString
    else if (secs == 86400) date.plusDays(1).toString
    else date.atStartOfDay.plusSeconds(secs)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  /** ECMA-376 `t="d"` ISO-8601 cell text → the SAME rendering
    * [[serialToIso]] produces for date-styled serials, so one grid
    * never mixes `2023-03-15T12:00:00` with `2023-03-15 12:00:00` for
    * the same instant: date-only stays a date, datetimes round to the
    * nearest second (midnight collapsing to the pure date), an offset
    * is dropped after normalizing to its local wall time (Excel
    * semantics — serials are wall times). Unparseable text passes
    * through verbatim rather than failing the whole sheet.
    */
  private[ingest] def isoDateToGrid(text: String): String = {
    import java.time._
    def render(dt: LocalDateTime): String = {
      val floor = dt.truncatedTo(temporal.ChronoUnit.SECONDS)
      val dt2 = if (dt.getNano >= 500000000) floor.plusSeconds(1) else floor
      if (dt2.toLocalTime == LocalTime.MIDNIGHT) dt2.toLocalDate.toString
      else dt2.format(format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    }
    try LocalDate.parse(text).toString
    catch { case _: Exception =>
      try render(LocalDateTime.parse(text))
      catch { case _: Exception =>
        try render(OffsetDateTime.parse(text).toLocalDateTime)
        catch { case _: Exception => text } } }
  }

  private def factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def withPart[A](
      parts: ZipParts, name: String)(f: XMLStreamReader => A): Option[A] =
    parts.open(name).map { in =>
      val r = factory.createXMLStreamReader(in)
      // the zip-bomb refusal fires inside the parser's reads
      // (read-time bound, ZipParts) — unwrap it from any StAX
      // wrapping so callers keep seeing the named IllegalArgumentException
      try f(r)
      catch {
        case e: Exception =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .collectFirst { case b: IllegalArgumentException
              if b.getMessage != null && b.getMessage.contains("zip bomb") => b }
            .foreach(throw _)
          throw e
      }
      finally { r.close(); in.close() }
    }

  /** sharedStrings.xml: each <si> is one string — concatenate every <t>
    * inside it (plain or rich-text runs), EXCLUDING phonetic guides
    * (<rPh>/<phoneticPr> furigana would otherwise corrupt the value). */
  private def readSharedStrings(parts: ZipParts): IndexedSeq[String] =
    withPart(parts, "xl/sharedStrings.xml") { r =>
      val out = mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var inSi = false
      var inT = false
      var phoneticDepth = 0
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; cur.clear()
              case "rPh" | "phoneticPr" => phoneticDepth += 1
              case "t" if inSi && phoneticDepth == 0 => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inT => cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "rPh" | "phoneticPr" => phoneticDepth -= 1
              case "si" => inSi = false; out += cur.toString
              case _ =>
            }
          case _ =>
        }
      }
      out.toIndexedSeq
    }.getOrElse(IndexedSeq.empty)

  /** workbook.xml (sheet name → r:id) + workbook.xml.rels (r:id →
    * part). The same single workbook.xml pass also captures
    * `<workbookPr date1904>` — the element precedes `<sheets>` in the
    * schema, so one scan serves both (re-opening the part per flag
    * would double the inflate+parse cost on every workbook). Returns
    * (sheet part, 1904-epoch flag).
    */
  private def resolveSheetPart(parts: ZipParts, sheetName: String): (String, Boolean) = {
    var epoch1904 = false
    val rid = withPart(parts, "xl/workbook.xml") { r =>
      var found: Option[String] = None
      while (r.hasNext && found.isEmpty) {
        if (r.next() == XMLStreamConstants.START_ELEMENT) r.getLocalName match {
          case "workbookPr" =>
            epoch1904 = attr(r, "date1904").exists(v => v == "1" || v == "true")
          case "sheet" =>
            if (attr(r, "name").contains(sheetName))
              found = (0 until r.getAttributeCount)
                .find(i => r.getAttributeLocalName(i) == "id")
                .map(r.getAttributeValue)
          case _ =>
        }
      }
      found
    }.flatten.getOrElse(
      throw new IllegalArgumentException(s"sheet '$sheetName' not found in ${parts.describe}"))
    val target = withPart(parts, "xl/_rels/workbook.xml.rels") { r =>
      var found: Option[String] = None
      while (r.hasNext && found.isEmpty) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship")
          if (attr(r, "Id").contains(rid)) found = attr(r, "Target")
      }
      found
    }.flatten.getOrElse(throw new IllegalArgumentException(
      s"relationship $rid not found in ${parts.describe}"))
    val part =
      if (target.startsWith("/")) target.drop(1)
      else if (target.startsWith("xl/")) target
      else s"xl/$target"
    (part, epoch1904)
  }

  /** One pass over the sheet part: cells keyed by reference (e.g. BC12),
    * values resolved per cell type, gaps null-filled.
    */
  private def readSheet(
      parts: ZipParts, part: String, shared: IndexedSeq[String],
      dateStyles: IndexedSeq[Boolean] = IndexedSeq.empty,
      epoch1904: Boolean = false): Seq[Seq[String]] = {
    case class Cell(row: Int, colIdx: Int, value: String)
    val cells = withPart(parts, part) { r =>
      val out = mutable.ArrayBuffer.empty[Cell]
      // streaming writers may omit the optional r attributes: track the
      // current row index and a per-row column cursor as fallbacks
      var rowIdx = -1
      var colCursor = 0
      var cellCol = 0
      var cellType = ""
      var cellIsDate = false
      var haveCell = false
      var inV = false
      var inIsT = false
      var phoneticDepth = 0 // inline strings carry <rPh> furigana too
      val text = new StringBuilder
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" =>
                rowIdx = attr(r, "r").map(_.toInt - 1).getOrElse(rowIdx + 1)
                colCursor = 0
              case "c" =>
                cellCol = attr(r, "r") match {
                  case Some(ref) => colIndex(ref.takeWhile(_.isLetter))
                  case None => colCursor
                }
                colCursor = cellCol + 1
                cellType = attr(r, "t").getOrElse("n")
                // numeric cell + date-formatted style (styles.xml) →
                // the raw value is an Excel date serial
                cellIsDate = cellType == "n" &&
                  attr(r, "s").flatMap(_.toIntOption)
                    .exists(i => dateStyles.lift(i).getOrElse(false))
                haveCell = true
                text.clear()
              case "rPh" | "phoneticPr" => phoneticDepth += 1
              case "v" => inV = true
              case "t" if phoneticDepth == 0 => inIsT = true // inlineStr's <is><t>
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inV || inIsT => text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" => inV = false
              case "t" => inIsT = false
              case "rPh" | "phoneticPr" => phoneticDepth -= 1
              case "c" if haveCell && text.nonEmpty && rowIdx >= 0 =>
                val raw = text.toString
                val value = cellType match {
                  case "s" => shared.lift(raw.trim.toInt).orNull
                  case "n" if cellIsDate =>
                    raw.trim.toDoubleOption.map(serialToIso(_, epoch1904))
                      .getOrElse(raw)
                  // ECMA-376 §18.17.4.1 "d" cells carry the date as ISO
                  // 8601 TEXT, not a serial — re-render through the
                  // serial rules so a grid mixing d-cells and
                  // date-styled serials shows ONE format
                  case "d" => isoDateToGrid(raw.trim)
                  case _ => raw
                }
                out += Cell(rowIdx, cellCol, value)
                haveCell = false
              case "c" => haveCell = false
              case _ =>
            }
          case _ =>
        }
      }
      out.toSeq
    }.getOrElse(throw new IllegalArgumentException(s"sheet part $part missing in ${parts.describe}"))

    if (cells.isEmpty) return Seq.empty
    val nRows = cells.map(_.row).max + 1
    val grid = Array.fill(nRows)(mutable.ArrayBuffer.empty[String])
    cells.foreach { c =>
      val row = grid(c.row)
      while (row.size <= c.colIdx) row += null
      row(c.colIdx) = c.value
    }
    grid.map(_.toSeq).toSeq
  }

  /** "A"→0, "Z"→25, "AA"→26, "BC"→54. */
  private def colIndex(letters: String): Int =
    letters.toUpperCase.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1

  private def attr(r: XMLStreamReader, local: String): Option[String] =
    (0 until r.getAttributeCount)
      .find(i => r.getAttributeLocalName(i) == local)
      .map(r.getAttributeValue)
}
