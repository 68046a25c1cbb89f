package graft.load

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

/** The HPV pipeline's sink, with the reference's truncate-then-load
  * contract (SURVEY.md §2.7 K1-K5; reference
  * `src/utils/database_util.py:37-57`).
  *
  * The reference wraps TRUNCATE + bulk append in one transaction and
  * ROLLBACKs on failure. A naive `SaveMode.Overwrite` to a parquet path
  * does NOT give that guarantee — Spark deletes the target before the
  * write job runs, so a mid-job failure loses the previous contents.
  * [[replaceTable]] stages into a sibling directory and swaps via
  * rename ([[stagedSwap]]): any failure before the swap leaves the
  * destination untouched. [[replaceJdbcTable]] gives the same contract
  * over a live JDBC connection, as one database transaction.
  */
final case class LoadReport(rows: Long, destination: String)

/** A [[Load.withLock]] acquisition refused because another writer holds
  * the lock. A dedicated type (not a bare IllegalStateException) so
  * retry loops can classify the refusal structurally — matching on the
  * message text would turn a harmless rewording into stream death.
  * Extends IllegalStateException so existing handlers keep working.
  */
final class LockHeldException(message: String, cause: Throwable)
  extends IllegalStateException(message, cause)

object Load {

  /** K2/K3: staged atomic-ish replace of a parquet destination path
    * ([[stagedSwap]]). Returns K4's row-count report on success; K5's
    * structured failure otherwise (destination preserved).
    *
    * A frame whose analyzed plan is a bare local relation (the HPV fact
    * table, built by `createDataFrame`) already holds its rows on the
    * driver: [[writeLocal]] writes them there, with no query and no
    * job, and counts the rows it wrote. Any other plan runs one write
    * job, counted by an observed metric of the job itself
    * ([[writeCounted]]), not a second read of the staged files.
    *
    * `decorateStaging`: sidecar metadata (underscore-prefixed files,
    * which Spark readers ignore) written INTO the staging dir so it
    * publishes atomically with the table in the same swap — e.g.
    * streaming.SubstringIngest's applied-batch watermark, which must
    * never be observable without the index state it describes.
    */
  def replaceTable(
      spark: SparkSession, df: DataFrame, destination: String,
      decorateStaging: Path => Unit = _ => ()): Try[LoadReport] = {
    val result = Try {
      val rows = stagedSwap(spark, destination) { staging =>
        val rows = df.queryExecution.analyzed match {
          case local: LocalRelation if !local.isStreaming =>
            writeLocal(spark, local, staging)
          case _ => writeCounted(spark, df, staging.toString)
        }
        decorateStaging(staging)
        rows
      }
      LoadReport(rows, destination)
    }
    report(result, destination)
  }

  /** Writes `local`'s rows as one parquet file into the directory `dir`,
    * then `_SUCCESS`, on the driver, and returns the rows written. The
    * writer is the one a write job's task opens
    * (`ParquetUtils.prepareWrite`, then the factory's `newInstance`), so
    * the codec, Spark's schema metadata and the datetime rebase follow
    * the session's conf as they would in a job; only the job, its
    * planning and its commit protocol are skipped. A failure leaves the
    * directory without `_SUCCESS`, and the caller publishes nothing.
    */
  private def writeLocal(spark: SparkSession, local: LocalRelation, dir: Path): Long = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val job = Job.getInstance(state.newHadoopConf())
    val schema = local.schema
    val factory = ParquetUtils.prepareWrite(
      state.conf, job, schema, new ParquetOptions(Map.empty[String, String], state.conf))
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}${factory.getFileExtension(context)}")
    val writer = factory.newInstance(file.toString, schema, context)
    try local.data.foreach(writer.write) finally writer.close()
    dir.getFileSystem(job.getConfiguration).create(new Path(dir, "_SUCCESS")).close()
    local.data.size.toLong
  }

  /** Writes `df`, any plan but a bare local relation, as parquet to
    * `path` in one write job, and returns the rows written, counted by a
    * uniquely named `observe` metric of the job (a retried task counts
    * once). A listener registered for the write alone reads the metric
    * when the write succeeds. Spark's `Observation` is not used: once
    * registered, its session-wide listener re-plans every FAILED query
    * on the listener bus, where a failure in planning throws again and
    * is logged as a listener ERROR.
    */
  private def writeCounted(spark: SparkSession, df: DataFrame, path: String): Long = {
    val name = s"graft_load_rows_${java.util.UUID.randomUUID()}"
    val rows = Promise[Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(m => rows.trySuccess(m.getLong(0)))
      // the plan of a failed query is not touched: its lazy phases would re-run
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.observe(name, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite).parquet(path)
      // the listener bus delivers the write's end asynchronously
      Await.result(rows.future, 5.minutes)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Publish whatever `stage` writes into `<destination>__staging` as
    * `destination`, in one rename. The previous contents are MOVED
    * aside to `<destination>__old` (not deleted) so a failed
    * staging→dest rename can roll them back — deleting first would lose
    * them exactly when the rename fails (cross-filesystem staging,
    * concurrent parent removal, ...). Any failure inside `stage` leaves
    * the destination untouched. Returns `stage`'s result.
    *
    * A backup WITHOUT a destination means a prior swap's restore failed
    * and the backup holds the only copy of the old contents — clearing
    * it on retry would destroy that copy, so the swap refuses. A backup
    * beside an existing destination is crash debris from after a
    * successful publish — safe to clear. Shared by [[replaceTable]] and
    * `operators.IndexStore`, whose unit of atomicity is a whole index
    * directory.
    */
  private[graft] def stagedSwap[T](spark: SparkSession, destination: String)(
      stage: Path => T): T = {
    val dest = new Path(destination)
    val staging = new Path(destination + "__staging")
    val backup = new Path(destination + "__old")
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(backup) && !fs.exists(dest))
      throw new IllegalStateException(
        s"destination $destination is missing but backup $backup exists - a prior " +
          "swap failed and was not restored; recover manually before loading")
    if (fs.exists(staging)) fs.delete(staging, true)
    val out = stage(staging)
    if (fs.exists(backup)) fs.delete(backup, true)
    val hadPrev = fs.exists(dest)
    if (hadPrev && !fs.rename(dest, backup))
      throw new java.io.IOException(s"backup rename $dest -> $backup failed")
    try {
      if (!fs.rename(staging, dest))
        throw new java.io.IOException(s"rename $staging -> $dest returned false")
    } catch {
      case e: Throwable =>
        // restore on ANY failure mode (thrown or returned-false), and
        // report honestly whether the restore itself succeeded
        val note =
          if (!hadPrev) ""
          else if (Try(fs.rename(backup, dest)).getOrElse(false))
            "; previous contents restored"
          else s"; RESTORE FAILED - previous contents left at $backup"
        throw new java.io.IOException(s"swap to $dest failed$note", e)
    }
    if (hadPrev) fs.delete(backup, true)
    out
  }

  /** K2/K3 over a LIVE JDBC CONNECTION — the closest shape to the
    * reference's actual sink (`database_util.py:39-57`: one transaction
    * wrapping TRUNCATE + bulk load, ROLLBACK on failure). Sequence:
    *
    *  1. bulk-write `df` to a STAGING table (`<table>__staging`,
    *     overwritten) — the distributed leg: each partition loads over
    *     its own connection, and any failure here leaves the
    *     destination untouched;
    *  2. in ONE driver-side transaction: empty the destination
    *     (`DELETE FROM` — transactional in every dialect, where
    *     TRUNCATE often is not) and `INSERT … SELECT` the staged rows
    *     across inside the database (no data moves through the
    *     driver); commit; ROLLBACK on any failure — the destination
    *     keeps its previous contents, exactly the reference's K5;
    *  3. best-effort drop of the staging table.
    *
    * A destination that doesn't exist yet is created empty from the
    * staging table's shape before the transaction. Returns K4's
    * row-count report (the INSERT's update count). Verified end-to-end
    * against embedded Derby in LoadSpec (commit, failure-rollback,
    * report); the sequence is dialect-portable — Snowflake/Postgres/
    * MySQL all run the same statements.
    */
  def replaceJdbcTable(
      spark: SparkSession, df: DataFrame, url: String, table: String,
      properties: java.util.Properties = new java.util.Properties): Try[LoadReport] = {
    val staging = table + "__staging"
    val result = Try {
      df.write.mode(SaveMode.Overwrite).jdbc(url, qq(staging), properties)
      val conn = java.sql.DriverManager.getConnection(url, properties)
      try {
        val st = conn.createStatement()
        // Existence probe by zero-row SELECT on the exact quoted name —
        // NOT metadata.getTables, whose name argument is a LIKE pattern
        // ('daily_facts' matches 'daily9facts' and would skip the
        // CREATE) and whose escape string some drivers (Derby) return
        // empty, making the pattern impossible to neutralize.
        val destExists =
          try {
            val rs = st.executeQuery(s"SELECT 1 FROM ${qq(table)} WHERE 1=0")
            rs.close(); true
          } catch { case _: java.sql.SQLException => false }
        try {
          if (!destExists) {
            // CTAS dialect gap: MySQL and Snowflake reject the
            // SQL-standard `WITH NO DATA`, Derby REQUIRES it, Postgres
            // takes both. Try the widely-accepted zero-row filter form
            // first and fall back to the standard form — between them
            // every dialect the writer itself reaches is covered.
            try st.executeUpdate(
              s"CREATE TABLE ${qq(table)} AS SELECT * FROM ${qq(staging)} WHERE 1=0")
            catch {
              case first: java.sql.SQLException =>
                // a failed statement ABORTS any open transaction on
                // Postgres-like engines — clear it or the fallback
                // fails spuriously on autoCommit=false connections
                if (!conn.getAutoCommit) Try(conn.rollback())
                try st.executeUpdate(
                  s"CREATE TABLE ${qq(table)} AS SELECT * FROM ${qq(staging)} WITH NO DATA")
                catch {
                  case second: java.sql.SQLException =>
                    // both forms failed: the FIRST failure is usually
                    // the real cause (permissions, dead connection) —
                    // surface it instead of masking it with the
                    // second form's dialect error
                    first.addSuppressed(second)
                    throw first
                }
            }
          }
          conn.setAutoCommit(false)
          val rows =
            try {
              st.executeUpdate(s"DELETE FROM ${qq(table)}")
              val n = st.executeUpdate(
                s"INSERT INTO ${qq(table)} SELECT * FROM ${qq(staging)}")
              conn.commit()
              n.toLong
            } catch {
              case e: Throwable =>
                Try(conn.rollback())
                throw new java.io.IOException(
                  s"JDBC load into $table failed; transaction rolled back, " +
                    "previous contents preserved", e)
            } finally conn.setAutoCommit(true)
          Try(st.executeUpdate(s"DROP TABLE ${qq(staging)}")) // best-effort cleanup
          LoadReport(rows, s"$url/$table")
        } finally st.close()
      } finally conn.close()
    }
    report(result, s"$url/$table")
  }

  /** Double-quote a JDBC identifier (the SQL-standard quoting Spark's
    * JDBC writer applies), so handwritten statements hit the same table
    * the writer created. Embedded quotes are rejected, not escaped.
    */
  private def qq(name: String): String = {
    require(!name.contains("\""), s"table name must not contain double quotes: $name")
    require(name.nonEmpty, "table name must not be empty")
    "\"" + name + "\""
  }

  /** Cooperative single-writer lock for a destination. Every sink in
    * this module assumes ONE writer — two concurrent staged swaps (say
    * a stream trigger racing a nightly load) can interleave their
    * backup/publish renames and break the rollback invariant. Callers
    * that can race wrap the sink call (note the inner `.get` — a
    * Try-returning body would otherwise nest as Success(Failure(...))):
    * `Load.withLock(spark, dir, "nightly-load") { Load.replaceTable(...).get }`.
    *
    * The lock is an atomically-created `<dir>__lock` file holding owner
    * and acquisition time for diagnostics. The create must be the race
    * arbiter: on HDFS-like filesystems `create(overwrite = false)` is;
    * on the LOCAL filesystem it is NOT (RawLocalFileSystem does a
    * non-atomic exists-then-open), so file:// locks go through NIO's
    * `Files.createFile` (O_EXCL — atomic on POSIX). Held locks fail
    * the acquirer LOUDLY with the holder's identity; no auto-expiry (a
    * writer outliving a wall-clock lease would corrupt exactly what
    * the lock protects — a crashed holder's lock is removed by an
    * operator, informed by the identity inside). Always released on
    * body exit, success or failure.
    */
  def withLock[T](spark: SparkSession, destination: String, owner: String)(
      body: => T): Try[T] = Try {
    val lock = new Path(destination + "__lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val note = s"$owner @ ${java.time.Instant.now()}".getBytes("UTF-8")
    def refuse(e: java.io.IOException): Nothing = {
      val holder = Try {
        val in = fs.open(lock)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }.getOrElse("<unreadable>")
      throw new LockHeldException(
        s"destination $destination is locked by: $holder - concurrent " +
          "writers are not allowed; if the holder crashed, remove " +
          s"$lock manually", e)
    }
    val qualified = fs.makeQualified(lock)
    if ("file" == qualified.toUri.getScheme) {
      val p = java.nio.file.Paths.get(qualified.toUri.getPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      try java.nio.file.Files.write(
        java.nio.file.Files.createFile(p), note)
      catch { case e: java.nio.file.FileAlreadyExistsException => refuse(e) }
    } else {
      val out =
        try fs.create(lock, false)
        catch { case e: java.io.IOException => refuse(e) }
      out.write(note)
      out.close()
    }
    try body
    finally fs.delete(lock, false)
  }

  private def report(result: Try[LoadReport], destination: String): Try[LoadReport] = {
    result match {
      case Success(r) =>
        // K4: the reference's "Uploaded X rows to <dest>" signal.
        println(s"Uploaded ${r.rows} rows to ${r.destination}")
      case Failure(e) =>
        System.err.println(s"Load to $destination failed: ${e.getMessage}")
    }
    result
  }
}
