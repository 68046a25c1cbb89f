package graft.load

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.internal.SQLConf
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
  * destination untouched.
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

  /** K2/K3 for rows already on the driver (the HPV fact table):
    * staged atomic-ish replace of a parquet destination path
    * ([[stagedSwap]]) that needs no Spark session. [[writeLocal]] writes
    * the relation's rows with no query and no job. Returns K4's
    * row-count report on success; K5's structured failure otherwise
    * (destination preserved).
    */
  def replaceTable(rows: LocalRelation, destination: String): Try[LoadReport] = {
    val result = Try(LoadReport(stagedSwap(localHadoopConf, destination)(writeLocal(rows, _)), destination))
    report(result, destination)
  }

  /** [[replaceTable]] of a local relation for callers that still pass a
    * session, which is ignored. Goes away once the benchmark's HPV mode
    * calls the session-free form (ROADMAP direction 1, step 2).
    */
  def replaceTable(spark: SparkSession, rows: LocalRelation, destination: String): Try[LoadReport] =
    replaceTable(rows, destination)

  /** K2/K3 for a frame: the same staged replace, with `df` written in
    * one write job, whose rows are counted by an observed metric of the
    * job itself ([[writeCounted]]), not a second read of the staged
    * files.
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
      val rows = stagedSwap(spark.sparkContext.hadoopConfiguration, destination) { staging =>
        val rows = writeCounted(spark, df, staging.toString)
        decorateStaging(staging)
        rows
      }
      LoadReport(rows, destination)
    }
    report(result, destination)
  }

  /** The SQL conf of [[writeLocal]]: Spark's defaults. No key that
    * `Sessions.configure` sets reaches the parquet writer. */
  private lazy val localSqlConf = new SQLConf

  /** The Hadoop conf of the session-free lane, built once per JVM: a
    * new `Configuration` parses Hadoop's default resources again. */
  private lazy val localHadoopConf = new Configuration()

  /** Writes `local`'s rows as one parquet file into the directory `dir`,
    * then `_SUCCESS`, on the driver, and returns the rows written. The
    * writer is the one a write job's task opens
    * (`ParquetUtils.prepareWrite`, then the factory's `newInstance`), so
    * the codec, Spark's schema metadata and the datetime rebase are a
    * session write job's; only the session, the job, its planning and
    * its commit protocol are skipped. A failure leaves the directory
    * without `_SUCCESS`, and the caller publishes nothing.
    */
  private def writeLocal(local: LocalRelation, dir: Path): Long = {
    val job = Job.getInstance(localHadoopConf)
    val schema = local.schema
    val factory = ParquetUtils.prepareWrite(
      localSqlConf, job, schema, new ParquetOptions(Map.empty[String, String], localSqlConf))
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}${factory.getFileExtension(context)}")
    val writer = factory.newInstance(file.toString, schema, context)
    try local.data.foreach(writer.write) finally writer.close()
    dir.getFileSystem(job.getConfiguration).create(new Path(dir, "_SUCCESS")).close()
    local.data.size.toLong
  }

  /** Writes `df` as parquet to `path` in one write job, and returns the
    * rows written, counted by a uniquely named `observe` metric of the
    * job (a retried task counts once). A listener registered for the write alone reads the metric
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
    * directory. `hadoopConf` resolves the destination's filesystem.
    */
  private[graft] def stagedSwap[T](hadoopConf: Configuration, destination: String)(
      stage: Path => T): T = {
    val dest = new Path(destination)
    val staging = new Path(destination + "__staging")
    val backup = new Path(destination + "__old")
    val fs = dest.getFileSystem(hadoopConf)
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
