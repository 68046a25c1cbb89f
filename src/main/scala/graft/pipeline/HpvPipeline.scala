package graft.pipeline

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Workbook
import graft.ops.{Clean, Combine, Derive, Rollup}

/** The reference pipeline (`/root/reference/src/main.py:17-120`)
  * re-expressed Spark-first: every step is a lazy DataFrame transform, so
  * Catalyst collapses the per-file projection chain into ~one Project and
  * pushes the null/sentinel filters below the unions (SURVEY.md §4.2).
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
  * Cost per cycle: `transform` launches no Spark job, and the fact plan
  * it returns holds exactly one shuffle exchange.
  *  - [[perFile]] reshapes each workbook with one narrow projection (an
  *    `explode` driven by the header names), not melt + pivot; its
  *    driver-side reads (header derivation, the grain check) are over
  *    local relations and fold into `ConvertToLocalRelation`.
  *  - The grain check (N3/D4) runs on the driver, per file, over the
  *    cleaned LA names and the derived header keys, before `dropna`.
  *  - [[combine]] folds both rollups into one grouping-sets aggregate
  *    ([[Rollup.cubeLabeled]]): one Expand, one shuffle. A hidden,
  *    non-string row key joins the finest grouping set so that set
  *    passes every base row through, as the reference's union does. The
  *    grain can repeat — a `*` borough scrubs to null beside a blank
  *    one, and D7 repeats an academic year across workbooks — and
  *    without the key such rows would merge into one.
  * The load that follows pays the write, the count-back and the swap.
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
  final case class Compat(
      pandasTitle: Boolean = false,
      rollup: Rollup.PandasCompat = Rollup.PandasCompat())
  object Compat {
    val Off: Compat = Compat()
    val PandasExact: Compat =
      Compat(pandasTitle = true, rollup = Rollup.PandasCompat(
        allNullSumZero = true, dropNullKeyGroups = true))
  }

  val IdCol = "Local authority"
  val Grain: Seq[String] = Seq(
    "Borough_Name", "Year_Group_Number", "Gender_Name",
    "Academic_Year_End_Date", "Academic_Year_Text", "Date_Extract")
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

  /** Per-file transform (`main.py:24-74`): clean → drop-by-name → melt →
    * derive → pivot (asserted) → rename → per-file metadata (N7).
    *
    * Melt + pivot is fused into one narrow step. Each surviving header's
    * (year group, gender, metric) is derived once, on the driver, with
    * the [[Derive]] expressions over a local relation of header names.
    * Every LA row then explodes into one row per (year group, gender),
    * carrying its `Number` and `Number_Vaccinated` cells (a typed null
    * where the workbook has no such column) — no shuffle, no job. The
    * pivot's fail-loud grain contract is checked by [[assertGrain]].
    */
  def perFile(wb: Workbook, extractDate: LocalDate,
      compat: Compat = Compat.Off): DataFrame = {
    val cleaned = wb.data.withColumn(IdCol,
      if (compat.pandasTitle) Derive.cleanNamePandasTitle(col(IdCol))
      else Derive.cleanName(col(IdCol)))
    val pruned = Clean.dropColumnsWhere(
      cleaned, c => c != IdCol && (c.contains("%") || c.contains("2 doses")))
    val headers = pruned.columns.filterNot(_ == IdCol).toSeq
    require(headers.nonEmpty,
      s"workbook has no measure columns besides '$IdCol' after dropping % and 2-doses columns")
    val keys = headerKeys(pruned.sparkSession, headers)
    assertGrain(pruned, keys)
    val cells = keys.map(k => (k.yearGroup, k.gender)).distinct.map { case (yg, g) =>
      def cell(metric: String): Column = keys
        .find(k => k.yearGroup == yg && k.gender == g && k.metric == metric)
        .fold(lit(null).cast(StringType))(k => col(quoted(k.header)))
      struct(
        lit(yg).cast(StringType).as("Year_Group_Number"),
        lit(g).as("Gender_Name"),
        cell("Number").as("Students_Total"),
        cell("Number_Vaccinated").as("Students_Vaccinated"))
    }
    pruned
      .select(col(IdCol).as("Borough_Name"), explode(array(cells: _*)).as("cell"))
      .select(col("Borough_Name"), col("cell.*"))
      .withColumn("Academic_Year_End_Date",
        lit(Derive.academicYearEnd(wb.a1).map(Integer.valueOf).orNull).cast(IntegerType))
      .withColumn("Academic_Year_Text",
        lit(Derive.academicYearText(wb.a1).orNull).cast(StringType))
      .withColumn("Date_Extract", lit(java.sql.Date.valueOf(extractDate)))
  }

  /** A measure header's derived pivot key (E3-E5). */
  private final case class HeaderKey(
      header: String, yearGroup: String, gender: String, metric: String)

  /** E3-E5 over the header names, evaluated on the driver with the same
    * [[Derive]] expressions the melted rows used (one source of truth);
    * a local relation, so no job.
    */
  private def headerKeys(spark: SparkSession, headers: Seq[String]): Seq[HeaderKey] = {
    val names = spark.createDataFrame(headers.map(Row(_)).asJava,
      StructType(Seq(StructField("Category", StringType))))
    val c = col("Category")
    names.select(c, Derive.yearGroupFromHeader(c), Derive.genderFromHeader(c),
        Derive.metricFromHeader(c))
      .collect().toSeq
      .map(r => HeaderKey(r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
  }

  /** The pivot's fail-loud contract (N3/D4): pandas `pivot` raises on a
    * duplicate (LA, year group, gender, metric) key. In a workbook such a
    * key comes from two headers deriving the same (year group, gender,
    * metric), or from two data rows whose LA names clean to the same
    * string; either needs at least one data row. Checked on the driver
    * over the cleaned id column — before `dropna`, like the reference —
    * reporting up to 20 keys with their multiplicity.
    */
  private def assertGrain(pruned: DataFrame, keys: Seq[HeaderKey]): Unit = {
    val ids = pruned.select(col(IdCol)).collect().toSeq.map(_.get(0))
    def counts[K](ks: Seq[K]): Seq[(K, Int)] = {
      val n = ks.groupBy(identity).view.mapValues(_.size).toMap
      ks.distinct.map(k => k -> n(k))
    }
    val idCounts = counts(ids)
    val keyCounts = counts(keys.map(k => (k.yearGroup, k.gender, k.metric)))
    if (idCounts.exists(_._2 > 1) || (ids.nonEmpty && keyCounts.exists(_._2 > 1))) {
      val dups = (for {
        (id, ni) <- idCounts.iterator
        ((yg, g, m), nk) <- keyCounts.iterator
        if ni * nk > 1
      } yield Row(id, yg, g, m, ni.toLong * nk)).take(20).toSeq
      throw new IllegalStateException(
        s"pivot grain ($IdCol, Year Group, Gender, Metric) not unique; first duplicates: " +
          dups.map(_.toString).mkString("; "))
    }
  }

  /** A column reference to `name` taken literally (headers may hold dots). */
  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Combine phase (`main.py:77-120`): union (U1) → dropna (P3, N1) →
    * sentinel replace (P4, N2) → numeric cast → Both/All rollups (A3,
    * N5) → uppercase column names (P6).
    *
    * The rollups are one grouping-sets aggregate (one shuffle). Each
    * unioned row first gets a hidden `long` row key, unique across the
    * union and immune to the sentinel scrub, which keeps the base rows
    * as they are even where the grain repeats (see the object doc).
    */
  def combine(perFiles: Seq[DataFrame],
      compat: Compat = Compat.Off): DataFrame = {
    val unioned = Combine.unionByNameAll(perFiles)
      .withColumn(RowKey, monotonically_increasing_id())
    val dropped = Clean.dropNullRows(unioned, Measures)
    val scrubbed = Clean.sentinelsToNull(dropped)
    val typed = scrubbed
      .withColumn("Students_Total", trim(col("Students_Total")).cast(LongType))
      .withColumn("Students_Vaccinated", trim(col("Students_Vaccinated")).cast(LongType))
    val rolled = Rollup.cubeLabeled(
      typed, Grain, Measures,
      roll1 = ("Gender_Name", "Both"), roll2 = ("Year_Group_Number", "All"),
      rowKey = Seq(RowKey), compat = compat.rollup)
    rolled.toDF(rolled.columns.map(_.toUpperCase).toIndexedSeq: _*)
  }

  /** Hidden row key of [[combine]]; never in its output. */
  private val RowKey = "_row"

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

  /** Full pipeline: workbooks → fact table, with the output-schema
    * assertion the reference delegates to its destination DDL.
    */
  def transform(workbooks: Seq[Workbook], extractDate: LocalDate = LocalDate.now(),
      compat: Compat = Compat.Off): DataFrame = {
    duplicateAcademicYears(workbooks).foreach { case (yr, n) =>
      System.err.println(
        s"[hpv] WARNING (D7): academic year ${yr.getOrElse("<unparsed>")} appears in $n " +
          "workbooks — reference semantics double-count it in the rollups")
    }
    val out = combine(workbooks.map(perFile(_, extractDate, compat)), compat)
      .select(OutputSchema.fieldNames.map(col).toIndexedSeq: _*)
    val got = out.schema.fields.map(f => f.name -> f.dataType).toSeq
    val want = OutputSchema.fields.map(f => f.name -> f.dataType).toSeq
    require(got == want, s"output schema mismatch: got $got, want $want")
    out
  }
}
