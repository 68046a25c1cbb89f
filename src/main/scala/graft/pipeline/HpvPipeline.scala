package graft.pipeline

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ingest.Workbook
import graft.ops.{Clean, Derive, Rollup}

/** The reference pipeline (`/root/reference/src/main.py:17-120`)
  * re-expressed for a table of about 12k rows: one driver pass builds
  * the fact rows with the [[Derive]] functions, and the rollups run on
  * the driver too.
  *
  * Semantics notes honored (SURVEY.md §2.8): N1 (dropna before sentinel
  * replace), N2 (full-frame replace), N3 (fail-loud pivot grain), N5
  * (gender rollup before year rollup, second rollup over base ∪ first),
  * N6 (gender defaults Male), N7 (per-file metadata before union), N8
  * (row order never relied on).
  *
  * Deliberate divergences (SURVEY.md §7.4): D1 initcap word semantics,
  * D2 all-null groups sum to null (SQL), D3 metadata columns always
  * present (null when unmatched), D4 duplicate grain reported with keys,
  * D5 single scan per workbook. Additionally D6: rows whose rollup keys
  * are null (a sentinel in a key column) DO form null-key groups (SQL
  * GROUP BY), where pandas groupby silently drops them.
  *
  * Cost per cycle: the cycle runs no Spark query and no job. The one
  * Spark call of `transform` is the final `createDataFrame`, whose
  * analysis builds the fact table as one local relation, and
  * `Load.replaceTable` writes that relation's rows on the driver.
  *  - [[stack]] reshapes every workbook on the driver into rows in the
  *    column order of [[OutputSchema]], deriving the header keys and
  *    cleaning the LA names with the [[Derive]] functions.
  *  - The grain check (N3/D4) runs on the driver, per workbook, over the
  *    cleaned LA names and the derived header keys, before `dropna`.
  *  - [[combine]] runs dropna, the sentinel scrub and the measure cast
  *    ([[Derive.measure]]) over those rows on the driver. Both rollups
  *    run on the driver ([[Rollup.labeledCubeRows]]), and the output
  *    rows become the cycle's one fact relation. Each base row passes
  *    through as it is, as in the reference's union, even where the
  *    grain repeats — a `*` borough scrubs to null beside a blank one,
  *    and D7 repeats an academic year across workbooks.
  * The load that follows pays the driver-side parquet write of those
  * rows (which counts them) and the swap.
  */
object HpvPipeline {

  /** Opt-in pandas-exact compatibility (round 11): flips the documented
    * D1/D2/D6 divergences to reproduce the reference byte-for-byte —
    * `str.title` capitalization after any non-alpha, all-null groups
    * summing to 0, null-key rows dropped from rollup re-aggregation.
    * [[Compat.Off]] (default) keeps the engine's SQL semantics, which
    * the register argues are the better ones and which every oracle
    * encodes. [[Compat.PandasExact]] completes reference parity to the
    * letter for migrations that diff outputs against the legacy run.
    */
  sealed trait Compat
  object Compat {
    case object Off extends Compat
    case object PandasExact extends Compat
  }

  val IdCol = "Local authority"
  val Measures: Seq[String] = Seq("Students_Total", "Students_Vaccinated")

  /** Fixed destination schema (reference `docs/Create HPV Table.sql:1-10`). */
  val OutputSchema: StructType = StructType(Seq(
    StructField("BOROUGH_NAME", StringType),
    StructField("YEAR_GROUP_NUMBER", StringType),
    StructField("GENDER_NAME", StringType),
    StructField("STUDENTS_TOTAL", LongType),
    StructField("STUDENTS_VACCINATED", LongType),
    StructField("ACADEMIC_YEAR_END_DATE", IntegerType),
    StructField("ACADEMIC_YEAR_TEXT", StringType),
    StructField("DATE_EXTRACT", DateType)))

  /** Per-file transform (`main.py:24-74`) of every workbook, stacked:
    * clean → drop-by-name → melt → derive → pivot (asserted) → rename →
    * per-file metadata (N7) → union (U1), as driver rows in the column
    * order of [[OutputSchema]], the measures still their raw cell strings.
    *
    * Melt + pivot is fused: each kept header's (year group, gender,
    * metric) is derived once, and every LA row becomes one row per (year
    * group, gender) with its raw `Number` and `Number_Vaccinated` cells
    * (null where the workbook has no such column). The pivot's
    * fail-loud grain contract is checked per workbook by [[assertGrain]];
    * every refusal names the workbook's `source`.
    */
  def stack(workbooks: Seq[Workbook], extractDate: LocalDate,
      compat: Compat = Compat.Off): Seq[Row] = {
    require(workbooks.nonEmpty, "no workbooks to stack")
    // (workbook, id column, kept measure columns), refused before any derivation
    val layouts = workbooks.map { wb =>
      // case-insensitive, as Spark's default column resolution matches it
      val ids = wb.header.indices.filter(i => wb.header(i).equalsIgnoreCase(IdCol))
      if (ids.size != 1) throw new IllegalArgumentException(
        s"${wb.source}: expected one '$IdCol' column in the header, found ${ids.size}: " +
          wb.header.mkString("[", ", ", "]"))
      val kept = wb.header.indices.filter(i => i != ids.head && !Clean.droppedByName(wb.header(i)))
      require(kept.nonEmpty, s"${wb.source}: workbook has no measure columns besides " +
        s"'$IdCol' after dropping % and 2-doses columns")
      (wb, ids.head, kept)
    }
    val clean: String => String =
      if (compat == Compat.PandasExact) Derive.cleanNamePandasTitle else Derive.cleanName
    // per-file metadata (E6/E7, N7)
    val years = workbooks.map(wb =>
      (Derive.academicYearEnd(wb.a1).map(Integer.valueOf).orNull,
        Derive.academicYearText(wb.a1).orNull))
    val date = java.sql.Date.valueOf(extractDate)
    layouts.zip(years).flatMap { case ((wb, id, kept), (ayEnd, ayText)) =>
      val keys = kept.map(i => i -> headerKey(wb.header(i)))
      val names = wb.rows.map(r => clean(r(id)))
      assertGrain(wb.source, names, keys.map(_._2))
      val cells = keys.map { case (_, k) => (k.yearGroup, k.gender) }.distinct.map { case (yg, g) =>
        def cell(metric: String): Option[Int] = keys.collectFirst {
          case (i, k) if k.yearGroup == yg && k.gender == g && k.metric == metric => i
        }
        (yg, g, cell("Number"), cell("Number_Vaccinated"))
      }
      wb.rows.zip(names).flatMap { case (r, name) =>
        cells.map { case (yg, g, total, vaccinated) =>
          Row(name, yg, g, total.map(r).orNull, vaccinated.map(r).orNull, ayEnd, ayText, date)
        }
      }
    }
  }

  /** A measure header's derived pivot key (E3-E5). */
  private final case class HeaderKey(yearGroup: String, gender: String, metric: String)
  private def headerKey(h: String) =
    HeaderKey(Derive.yearGroupFromHeader(h), Derive.genderFromHeader(h), Derive.metricFromHeader(h))

  /** The pivot's fail-loud contract (N3/D4): pandas `pivot` raises on a
    * duplicate (LA, year group, gender, metric) key. In a workbook such a
    * key comes from two headers deriving the same (year group, gender,
    * metric), or from two data rows whose LA names clean to the same
    * string; either needs at least one data row. Checked on the driver
    * over the cleaned LA names — before `dropna`, like the reference —
    * reporting up to 20 keys with their multiplicity.
    */
  private def assertGrain(source: String, ids: Seq[String], keys: Seq[HeaderKey]): Unit = {
    def counts[K](ks: Seq[K]): Seq[(K, Int)] = {
      val n = ks.groupBy(identity).view.mapValues(_.size).toMap
      ks.distinct.map(k => k -> n(k))
    }
    val idCounts = counts(ids)
    val keyCounts = counts(keys)
    if (idCounts.exists(_._2 > 1) || (ids.nonEmpty && keyCounts.exists(_._2 > 1))) {
      val dups = (for {
        (id, ni) <- idCounts.iterator
        (k, nk) <- keyCounts.iterator
        if ni * nk > 1
      } yield Row(id, k.yearGroup, k.gender, k.metric, ni.toLong * nk)).take(20).toSeq
      throw new IllegalStateException(
        s"$source: pivot grain ($IdCol, Year Group, Gender, Metric) not unique; " +
          "first duplicates: " + dups.map(_.toString).mkString("; "))
    }
  }

  /** Combine phase (`main.py:77-120`) over the [[stack]]'s rows, on the
    * driver: dropna (P3, N1: a row goes when either raw measure is null)
    * → sentinel replace (P4, N2: every string cell equal to one of
    * [[Clean.DefaultSentinels]], untrimmed, becomes null) → numeric cast
    * → Both/All rollups (A3, N5, [[Rollup.labeledCubeRows]]), as one
    * local relation in [[OutputSchema]].
    *
    * The cast is [[Derive.measure]], Spark's ANSI string-to-long parse
    * after a space trim, so a measure that is not a number fails with
    * `CAST_INVALID_INPUT`, naming it.
    */
  def combine(spark: SparkSession, rows: Seq[Row], compat: Compat = Compat.Off): DataFrame = {
    val measures = Measures.map(_.toUpperCase)
    val at = measures.map(OutputSchema.fieldIndex)
    val scrubbed = rows.collect {
      case r if at.forall(!r.isNullAt(_)) =>
        r.toSeq.map { case s: String if Clean.DefaultSentinels.contains(s) => null; case v => v }
    }
    val typed = scrubbed.map(r => Row.fromSeq(
      at.foldLeft(r)((cells, i) => cells.updated(i, Derive.measure(cells(i).asInstanceOf[String])))))
    val rolled = Rollup.labeledCubeRows(typed, OutputSchema.fieldNames.toSeq, measures,
      roll1 = ("GENDER_NAME", "Both"), roll2 = ("YEAR_GROUP_NUMBER", "All"),
      pandasExact = compat == Compat.PandasExact)
    spark.createDataFrame(rolled.asJava, OutputSchema)
  }

  /** D7: academic years that appear in MORE THAN ONE workbook. The
    * reference (src/main.py:77 + the 6-key rollups at :91-114) silently
    * double-counts such files — every measure for that year is summed
    * twice. Faithful execution keeps that behavior, but the engine
    * surfaces it: driver-side metadata check, zero jobs.
    */
  def duplicateAcademicYears(workbooks: Seq[Workbook]): Seq[(Option[Int], Int)] =
    workbooks.groupBy(wb => Derive.academicYearEnd(wb.a1))
      .collect { case (yr, ws) if ws.size > 1 => (yr, ws.size) }
      .toSeq.sortBy(_._1)

  /** Full pipeline: workbooks → fact table, in the destination schema
    * the reference delegates to its DDL ([[OutputSchema]]).
    */
  def transform(workbooks: Seq[Workbook], extractDate: LocalDate = LocalDate.now(),
      compat: Compat = Compat.Off): DataFrame = {
    duplicateAcademicYears(workbooks).foreach { case (yr, n) =>
      System.err.println(
        s"[hpv] WARNING (D7): academic year ${yr.getOrElse("<unparsed>")} appears in $n " +
          "workbooks - reference semantics double-count it in the rollups")
    }
    val rows = stack(workbooks, extractDate, compat)
    combine(workbooks.head.spark, rows, compat)
  }
}
