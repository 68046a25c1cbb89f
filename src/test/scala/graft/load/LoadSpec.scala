package graft.load

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StringType, StructField, StructType}

import scala.util.{Failure, Success}

/** K1-K5: staged atomic replace — success reports rows; failure leaves
  * the previous destination contents intact (the reference's
  * TRUNCATE+ROLLBACK contract, database_util.py:37-57).
  */
class LoadSpec extends SparkTestBase {
  import spark.implicits._

  test("withLock: holds, blocks a second writer loudly, releases on exit and on failure") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val r = Load.withLock(conf, dir, "writer-1") {
      // contender inside the critical section fails and names the holder
      val c = Load.withLock(conf, dir, "writer-2")(fail("must not enter"))
      assert(c.isFailure)
      // typed refusal: retry loops classify on the class, not the text
      assert(c.failed.get.isInstanceOf[LockHeldException], c.failed.get.toString)
      val msg = c.failed.get.getMessage
      assert(msg.contains("writer-1") && msg.contains("locked"), msg)
      Load.replaceTable(spark, Seq(1, 2).toDF("v"), dir).get
    }
    assert(r.isSuccess && r.get.rows == 2)
    // released: a new writer acquires immediately
    assert(Load.withLock(conf, dir, "writer-3")(42).get == 42)
    // released even when the body throws
    val boom = Load.withLock(conf, dir, "writer-4")(throw new RuntimeException("x"))
    assert(boom.isFailure)
    assert(Load.withLock(conf, dir, "writer-5")(1).isSuccess)
  }

  test("replaceTable overwrites atomically and reports row count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_load").toString + "/t"
    val r1 = Load.replaceTable(spark, Seq(1, 2, 3).toDF("v"), dir)
    assert(r1 == Success(LoadReport(3, dir)))
    val r2 = Load.replaceTable(spark, Seq(9, 10).toDF("v"), dir)
    assert(r2 == Success(LoadReport(2, dir)))
    assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq == Seq(9, 10))
  }

  test("failed load preserves previous destination contents (rollback)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_load").toString + "/t"
    assert(Load.replaceTable(spark, Seq(1, 2, 3).toDF("v"), dir).isSuccess)
    // ANSI cast failure mid-job: the staged write throws, dest untouched
    val bad = Seq("not-a-number").toDF("s").select(col("s").cast("long").as("v"))
    Load.replaceTable(spark, bad, dir) match {
      case Failure(_) => // expected
      case Success(r) => fail(s"expected failure, got $r")
    }
    assert(spark.read.parquet(dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("replaceTable counts rows in the write job itself, for filtered and empty frames") {
    val dir = tempDest("graft_load_observed")
    // 4 partitions, a third of the rows filtered out in each
    val filtered = spark.range(0, 10000, 1, 4).where(col("id") % 3 =!= 0).toDF("v")
    val (r, jobs) = jobsDuring(Load.replaceTable(spark, filtered, dir))
    assert(r == Success(LoadReport(6666, dir)), s"got $r")
    assert(jobs == 1, s"replaceTable ran $jobs jobs; the write alone must report the count")
    assert(spark.read.parquet(dir).count() == 6666)
    val empty = spark.range(0, 100, 1, 2).where(col("id") < 0).toDF("v")
    assert(Load.replaceTable(spark, empty, dir) == Success(LoadReport(0, dir)))
    assert(spark.read.parquet(dir).count() == 0)
  }

  private def localRelation(rows: Seq[Row]) = LocalRelation.fromExternalRows(
    DataTypeUtils.toAttributes(StructType(Seq(
      StructField("s", StringType), StructField("n", LongType), StructField("d", DateType)))),
    rows)

  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.startsWith("part-"))

  test("a local relation loads on the driver: no job, no query, one part file and _SUCCESS") {
    val dir = tempDest("graft_load_local")
    val rel = localRelation(Seq(Row("a", 1L, java.sql.Date.valueOf("2026-01-15")),
      Row(null, null, null), Row("ç", -7L, java.sql.Date.valueOf("1582-10-04"))))
    val (r, jobs, queries) = graft.JobCounter.withQueries(spark)(Load.replaceTable(rel, dir))
    assert(jobs == 0 && queries == 0, s"the local load ran $jobs jobs and $queries queries")
    val back = spark.read.parquet(dir)
    assert(r == Success(LoadReport(back.count(), dir)) && r.get.rows == 3, s"got $r")
    assert(back.schema == rel.schema, s"${back.schema} != ${rel.schema}")
    assert(rowsOf(back) == rowsOf(frame(rel)))
    assert(exists(s"$dir/_SUCCESS"))
    assert(partFiles(dir).size == 1 && partFiles(dir).head.matches(
      "part-00000-[0-9a-f-]{36}\\.snappy\\.parquet"), partFiles(dir).mkString(", "))
  }

  test("an empty local relation loads as a readable table of 0 rows that keeps its schema") {
    val dir = tempDest("graft_load_local_empty")
    val rel = localRelation(Seq.empty)
    assert(Load.replaceTable(rel, dir) == Success(LoadReport(0, dir)))
    val back = spark.read.parquet(dir)
    assert(back.count() == 0 && back.schema == rel.schema, back.schema.toString)
  }

  test("a local relation's driver write matches the write job's files; a projection takes the job") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rel = localRelation(Seq(Row("x", 3L, java.sql.Date.valueOf("2024-08-31")), Row("y", null, null),
      Row(null, -7L, java.sql.Date.valueOf("1582-10-04"))))
    val driverDir = tempDest("graft_load_lane_driver")
    val jobDir = tempDest("graft_load_lane_job")
    // the relation's own load needs no session
    assert(Load.replaceTable(rel, driverDir).isSuccess)
    // a frame over the same rows, even a bare relation or a projection of
    // it, takes the session's write job, whose local scan may split the
    // rows over several files
    val df = frame(rel)
    val (r, jobs) = jobsDuring(Load.replaceTable(spark, df.select(df.columns.map(col).toSeq: _*), jobDir))
    assert(jobs == 1 && r.map(_.rows) == Success(3L), s"$r after $jobs jobs")
    def footer(dir: String) = {
      val f = new org.apache.hadoop.fs.Path(dir, partFiles(dir).head)
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(f, spark.sparkContext.hadoopConfiguration))
      try {
        val meta = reader.getFooter.getFileMetaData
        (meta.getSchema, meta.getKeyValueMetaData)
      } finally reader.close()
    }
    assert(footer(driverDir) == footer(jobDir))
    assert(rowsOf(spark.read.parquet(driverDir)) == rowsOf(spark.read.parquet(jobDir)))
    val (bare, bareJobs) = jobsDuring(Load.replaceTable(spark, df, jobDir))
    assert(bare == Success(LoadReport(3, jobDir)) && bareJobs == 1, s"$bare after $bareJobs jobs")
  }

  test("a retried write task is counted once (child JVM at local[2,3])") {
    // the shared local[4] session allows no task retry; local[2,3] does
    val dir = tempDest("graft_load_retry")
    val cmd = Seq(java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString, "-Xmx1g") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-cp", sys.props("java.class.path"), "graft.load.RetriedLoadMain", dir)
    val log = java.nio.file.Files.createTempFile("graft_load_retry", ".log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val exited = proc.waitFor(5, java.util.concurrent.TimeUnit.MINUTES)
    if (!exited) proc.destroyForcibly()
    val out = new String(java.nio.file.Files.readAllBytes(log), "UTF-8")
    assert(exited && proc.exitValue() == 0, out)
    assert(out.contains("reported=6666 onDisk=6666"), out)
  }

  /** ERROR events logged while `body` runs, up to the delivery of every
    * listener event `body` posted (`jobsDuring` fences the bus).
    */
  private def errorsDuring(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-load-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    appender.start()
    root.addAppender(appender)
    try jobsDuring(body)
    finally {
      root.removeAppender(appender)
      appender.stop()
    }
    errors.toArray(Array.empty[String]).toSeq
  }

  test("after a load, a query that fails in planning logs no listener ERROR") {
    val dir = tempDest("graft_load_quiet")
    assert(Load.replaceTable(spark, Seq(1, 2).toDF("v"), dir).isSuccess)
    // a bad cast over a local relation fails in the optimizer, before any job
    val errors = errorsDuring {
      val e = intercept[Exception](Seq("x").toDF("s").select(col("s").cast("long")).collect())
      assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
    }
    assert(errors.isEmpty, errors.mkString("\n"))
  }

  // ---- stagedSwap's pre-swap states, driven through replaceTable ----

  private def tempDest(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def exists(path: String): Boolean = new java.io.File(path).exists

  test("a backup without a destination is refused before staging; the backup is untouched") {
    val dir = tempDest("graft_swap_orphan")
    val backup = java.nio.file.Paths.get(dir + "__old")
    java.nio.file.Files.createDirectories(backup)
    java.nio.file.Files.write(backup.resolve("part-0"), "OLD".getBytes("UTF-8"))
    Load.replaceTable(spark, Seq(1).toDF("v"), dir) match {
      case Failure(e) => assert(e.getMessage.contains("recover manually"), e.getMessage)
      case Success(r) => fail(s"expected a refusal, got $r")
    }
    // the guard runs before the stage: nothing staged, nothing published
    assert(backup.toFile.list().toSeq == Seq("part-0"))
    assert(new String(java.nio.file.Files.readAllBytes(backup.resolve("part-0")), "UTF-8") == "OLD")
    assert(!exists(dir) && !exists(dir + "__staging"))
  }

  test("__old debris beside an existing destination is cleared and the load succeeds") {
    val dir = tempDest("graft_swap_debris")
    assert(Load.replaceTable(spark, Seq(1, 2, 3).toDF("v"), dir).isSuccess)
    // a crash after a successful publish, before the backup was dropped
    val backup = java.nio.file.Paths.get(dir + "__old")
    java.nio.file.Files.createDirectories(backup)
    java.nio.file.Files.write(backup.resolve("part-0"), "DEBRIS".getBytes("UTF-8"))
    assert(Load.replaceTable(spark, Seq(9, 10).toDF("v"), dir) == Success(LoadReport(2, dir)))
    assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq == Seq(9, 10))
    assert(!exists(dir + "__old") && !exists(dir + "__staging"))
  }

  test("a leftover __staging from a failed run is cleared and the load succeeds") {
    val dir = tempDest("graft_swap_staging")
    assert(Load.replaceTable(spark, Seq(1, 2, 3).toDF("v"), dir).isSuccess)
    // a run that died after staging, before the swap
    Seq(77, 78, 79, 80).toDF("v").write.parquet(dir + "__staging")
    assert(Load.replaceTable(spark, Seq(9, 10).toDF("v"), dir) == Success(LoadReport(2, dir)))
    assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq == Seq(9, 10))
    assert(!exists(dir + "__old") && !exists(dir + "__staging"))
    // replaceTable's overwrite-mode write would hide a skipped clear; a
    // stage that only adds files (IndexStore's shape) shows it
    val stale = java.nio.file.Paths.get(dir + "__staging", "stale")
    java.nio.file.Files.createDirectories(stale.getParent)
    java.nio.file.Files.write(stale, "STALE".getBytes("UTF-8"))
    Load.stagedSwap(spark.sparkContext.hadoopConfiguration, dir) { staging =>
      val d = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging.toString))
      java.nio.file.Files.write(d.resolve("fresh"), "FRESH".getBytes("UTF-8"))
    }
    assert(new java.io.File(dir).list().toSeq == Seq("fresh"))
  }
}

/** Child-JVM half of LoadSpec's retry case: a UDF fails the first
  * attempt of one partition, so the write succeeds only through a task
  * retry; prints the reported row count and the count on disk.
  * Usage: RetriedLoadMain <destination>
  */
object RetriedLoadMain {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.TaskContext
    val spark = graft.core.Sessions.configure(
      org.apache.spark.sql.SparkSession.builder().master("local[2,3]"), 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failFirstAttempt = udf { (v: Long) =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 1 && tc.attemptNumber() == 0)
        throw new IllegalStateException("injected first-attempt failure")
      v
    }
    val df = spark.range(0, 10000, 1, 3).where(col("id") % 3 =!= 0)
      .select(failFirstAttempt(col("id")).as("v"))
    val reported = Load.replaceTable(spark, df, args(0)).get.rows
    val onDisk = spark.read.parquet(args(0)).count()
    println(s"reported=$reported onDisk=$onDisk")
    spark.stop()
  }
}
