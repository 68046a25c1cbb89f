package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Robust ingestion contracts for the messy-input half of a pipeline.
  *
  * The reference's only source is hand-curated xlsx (see
  * `/root/reference/src/main.py:17-44` — it assumes a fixed header row
  * and crashes on anything else). A corpus pipeline at scale cannot:
  * landed data drifts in schema across drops, and raw feeds carry
  * malformed records. These readers make both failure modes explicit
  * instead of silent.
  *
  * Design notes for the 100 TB case:
  *   - [[readEvolved]] is metadata-work only beyond a normal scan —
  *     `mergeSchema` unions footer schemas at planning time; data pages
  *     are still pruned/pushed down per file. Missing columns read as
  *     null without rewriting old drops.
  *   - [[AuditedReads.csv]]/[[AuditedReads.json]] run ONE pass:
  *     PERMISSIVE parsing routes unparsable lines into the corrupt
  *     column instead of aborting (FAILFAST) or silently dropping
  *     (DROPMALFORMED), so the same scan yields both the clean rows
  *     and the quarantine set. Splitting is a cheap filter on the
  *     already-parsed frame, not a re-read.
  */
object Robust {

  /** Union-by-name read across parquet directories whose schemas have
    * EVOLVED (columns added over time). Spark's per-file projection
    * fills absent columns with null — the label alignment of pandas
    * `concat` (reference `src/main.py:77`), pushed down to the scan.
    */
  def readEvolved(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "readEvolved needs at least one directory")
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** Audited semi-structured read: `good` rows parsed clean,
    * `quarantine` holds the raw text of every malformed record. Both
    * are LAZY filters over one text-scan-plus-parse plan — each action
    * re-runs that plan, so a caller consuming both branches should
    * persist the parsed frame first (or land both in one pass via
    * `foreachBatch`/a multi-sink write) rather than pay the raw-feed
    * scan twice.
    */
  final case class AuditedRead(good: DataFrame, quarantine: DataFrame)

  object AuditedReads {

    private val corruptCol = "_corrupt_record"

    /** `schema` is the EXPECTED record shape (explicit, never inferred
      * — inference would make the contract drift with the data).
      *
      * Implementation: a `text` scan + `from_csv`/`from_json`
      * EXPRESSION, not `spark.read.csv/json` with a corrupt column.
      * The datasource route hits Spark's
      * QUERY_ONLY_CORRUPT_RECORD_COLUMN refusal the moment column
      * pruning reduces the quarantine branch to the corrupt column
      * alone (its documented workaround — cache the parsed pass — is
      * a non-starter for a raw feed at scale). The expression route
      * has no such restriction, keeps the whole read one pass, and the
      * quarantine carries the verbatim raw line. Records are
      * line-delimited by contract (no quoted embedded newlines — the
      * multiLine case belongs to [[graft.load.Load]]'s staged csv).
      *
      * Header contract (`header = true`): every line EXACTLY equal to
      * the canonical unquoted header (`schema.fieldNames` joined by
      * commas — what Spark's own csv writer emits) is treated as a
      * header wherever it appears, which is what multi-file
      * directories need (each file repeats it). Two edges follow: a
      * data row spelled exactly like the header is indistinguishable
      * from one and is dropped with it, and a header written in a
      * DIFFERENT rendering (quoted, reordered, padded) is NOT
      * recognized — it lands in quarantine as a malformed record,
      * where a schema mismatch should land.
      */
    def csv(spark: SparkSession, path: String, schema: StructType,
        header: Boolean = true): AuditedRead = {
      val full = withCorrupt(schema)
      val headerLine = schema.fieldNames.mkString(",")
      val raw = spark.read.text(path)
      val lines =
        if (header) raw.where(col("value") =!= headerLine) else raw
      split(lines, from_csv(col("value"), full,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol)))
    }

    def json(spark: SparkSession, path: String, schema: StructType): AuditedRead = {
      val full = withCorrupt(schema)
      split(spark.read.text(path),
        from_json(col("value"), full,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol)))
    }

    private def withCorrupt(schema: StructType): StructType = {
      require(!schema.fieldNames.contains(corruptCol),
        s"schema must not declare $corruptCol — it is reserved for the corrupt capture")
      StructType(schema.fields :+ StructField(corruptCol, StringType, nullable = true))
    }

    private def split(lines: DataFrame, parse: org.apache.spark.sql.Column): AuditedRead = {
      val parsed = lines.select(col("value"), parse.as("r"))
      // a malformed record may still surface the typed fields it could
      // parse; the corrupt field (or a null struct from unparsable
      // json) is the authoritative malformed signal
      val malformed = col("r").isNull || col("r").getField(corruptCol).isNotNull
      val ok = parsed.where(!malformed).select(col("r.*")).drop(corruptCol)
      val bad = parsed.where(malformed).select(col("value").as("raw_record"))
      AuditedRead(ok, bad)
    }
  }
}
