package graft.ingest

import scala.jdk.CollectionConverters._

/** A reference-shaped workbook sheet, as shaped cells: the raw A1
  * metadata cell, the header taken from a mid-sheet header row, and the
  * data rows under it, every cell a string or null (SURVEY.md §2.1
  * S2/S3). `source` names the file (or `grid`) in every error about it.
  *
  * One read captures both A1 and the table — fixing the reference's
  * double scan of every file (`src/main.py:27,30`; divergence D5). The
  * cells stay on the driver and no Spark session is involved: the
  * pipeline reshapes every workbook into fact rows itself.
  */
final case class Workbook(
    source: String, a1: String, header: Seq[String], rows: Seq[Seq[String]])

object Workbook {

  /** Build from an in-memory cell grid (rows of cells, row 0 = sheet row
    * 1). `headerRow` is 0-based (the reference uses header=2, i.e. sheet
    * row 3; data from row 4 — `README.md:51-52`). Empty cells become
    * null. Driver-side by design: workbook sheets are small metadata-ish
    * inputs; bulk data enters the engine through `spark.read`
    * (parquet/csv) instead.
    */
  def fromGrid(grid: Seq[Seq[String]], headerRow: Int = 2): Workbook =
    fromSource(grid, headerRow, "grid")

  /** [[fromGrid]] with the grid's origin (a file path) named in its
    * errors. */
  private[ingest] def fromSource(grid: Seq[Seq[String]], headerRow: Int, source: String): Workbook = {
    val (a1, header, rows) = shape(grid, headerRow, source)
    Workbook(source, a1, header, rows)
  }

  /** The sheet shape every reader shares: (A1, trimmed header row, data
    * rows padded to the header width with empty cells as null). A blank
    * A1 is "" even when the readers pad it with null (row 1 holds a
    * later cell), so its metadata derives to null (D3). Fails
    * loud, naming `source`, on a grid without the header row and on data
    * past the last header (house style, cf. N3/D4): silently dropping a
    * stray trailing value would corrupt measures.
    */
  private[ingest] def shape(grid: Seq[Seq[String]], headerRow: Int, source: String)
      : (String, Seq[String], Seq[Seq[String]]) = {
    require(grid.size > headerRow,
      s"$source: grid has ${grid.size} rows, header expected at $headerRow")
    val a1 = grid.headOption.flatMap(_.headOption).flatMap(Option(_)).getOrElse("")
    val header = grid(headerRow).map(c => Option(c).getOrElse("").trim)
    val width = header.size
    val rows = grid.drop(headerRow + 1).zipWithIndex.map { case (r, i) =>
      val extras = r.drop(width).filter(c => c != null && c.nonEmpty)
      require(extras.isEmpty,
        s"$source row ${headerRow + 2 + i} has ${extras.size} value(s) beyond the " +
          s"$width-column header: ${extras.take(3).mkString(", ")}")
      r.padTo(width, null: String).map(c => if (c == null || c.isEmpty) null else c)
    }
    (a1, header, rows)
  }

  /** Read a CSV-staged sheet (no quoting/escaping — staging format is
    * plain cells) with the same header-offset semantics. Single pass
    * (D5): the file is read once on the driver; A1 and the data grid
    * both come from that read.
    */
  def readCsvGrid(path: String, headerRow: Int = 2): Workbook = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
    fromSource(lines.map(_.split(",", -1).toSeq), headerRow, path)
  }
}
