package graft.load

import graft.SparkTestBase
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success}

/** K1-K5: staged atomic replace — success reports rows; failure leaves
  * the previous destination contents intact (the reference's
  * TRUNCATE+ROLLBACK contract, database_util.py:37-57).
  */
class LoadSpec extends SparkTestBase {
  import spark.implicits._

  test("withLock: holds, blocks a second writer loudly, releases on exit and on failure") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString + "/t"
    val r = Load.withLock(spark, dir, "writer-1") {
      // contender inside the critical section fails and names the holder
      val c = Load.withLock(spark, dir, "writer-2")(fail("must not enter"))
      assert(c.isFailure)
      // typed refusal: retry loops classify on the class, not the text
      assert(c.failed.get.isInstanceOf[LockHeldException], c.failed.get.toString)
      val msg = c.failed.get.getMessage
      assert(msg.contains("writer-1") && msg.contains("locked"), msg)
      Load.replaceTable(spark, Seq(1, 2).toDF("v"), dir).get
    }
    assert(r.isSuccess && r.get.rows == 2)
    // released: a new writer acquires immediately
    assert(Load.withLock(spark, dir, "writer-3")(42).get == 42)
    // released even when the body throws
    val boom = Load.withLock(spark, dir, "writer-4")(throw new RuntimeException("x"))
    assert(boom.isFailure)
    assert(Load.withLock(spark, dir, "writer-5")(1).isSuccess)
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

  test("replacePartitions rewrites only the delta's partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_loadp").toString + "/t"
    val full = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("v", "p")
    assert(Load.replacePartitions(spark, full, dir, "p").map(_.rows) == Success(4L))
    // delta touches ONLY p=b; a and c must keep their original bytes
    val aFiles = new java.io.File(dir, "p=a").listFiles().map(_.getName).toSet
    val delta = Seq((30L, "b"), (31L, "b")).toDF("v", "p")
    assert(Load.replacePartitions(spark, delta, dir, "p").map(_.rows) == Success(2L))
    val back = spark.read.parquet(dir).select($"v", $"p").as[(Long, String)]
      .collect().sorted.toSeq
    assert(back == Seq((1L, "a"), (2L, "a"), (4L, "c"), (30L, "b"), (31L, "b")))
    assert(new java.io.File(dir, "p=a").listFiles().map(_.getName).toSet == aFiles,
      "untouched partition must not be rewritten")
    assert(!new java.io.File(dir + "__old").exists && !new java.io.File(dir + "__staging").exists,
      "staging/backup debris must be cleaned up")
  }

  test("failed partition load preserves every destination partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_loadp").toString + "/t"
    val full = Seq((1L, "a"), (3L, "b")).toDF("v", "p")
    assert(Load.replacePartitions(spark, full, dir, "p").isSuccess)
    // ANSI cast failure mid-staging-write: destination untouched
    val bad = Seq(("x", "b")).toDF("s", "p")
      .select(col("s").cast("long").as("v"), col("p"))
    Load.replacePartitions(spark, bad, dir, "p") match {
      case Failure(_) => // expected
      case Success(r) => fail(s"expected failure, got $r")
    }
    val back = spark.read.parquet(dir).select($"v", $"p").as[(Long, String)]
      .collect().sorted.toSeq
    assert(back == Seq((1L, "a"), (3L, "b")))
  }

  test("compact collapses a many-small-files table without changing its rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    spark.range(0, 1000).toDF("v").repartition(20)
      .write.parquet(dir)
    def files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).length
    assert(files == 20)
    val r = Load.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(r.map(_.rows) == Success(1000L), s"got $r")
    assert(files == 1, "must collapse to ceil(bytes/target) = 1 file")
    assert(spark.read.parquet(dir).count() == 1000)
    assert(!new java.io.File(dir + "__old").exists && !new java.io.File(dir + "__staging").exists)
    // idempotent: a second run keeps the single file and the rows
    assert(Load.compact(spark, dir, targetBytes = Long.MaxValue).map(_.rows) == Success(1000L))
    assert(files == 1)
  }

  test("mid-swap rollback restores the half-moved partition, not only published ones") {
    // manufacture the exact state after a publish rename fails: p=a fully
    // published (backup holds its old bytes), p=b backed up but its
    // destination missing, p=c untouched, p=d brand new and published
    val root = java.nio.file.Files.createTempDirectory("graft_rb")
    def mk(rel: String, content: String): Unit = {
      val f = root.resolve(rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, content.getBytes)
    }
    mk("t/p=a/part-0", "NEW-a"); mk("t__old/p=a/part-0", "OLD-a")
    mk("t__old/p=b/part-0", "OLD-b") // dest p=b missing: swap died here
    mk("t/p=c/part-0", "OLD-c")      // untouched
    mk("t/p=d/part-0", "NEW-d")      // new partition, no backup
    val fs = new org.apache.hadoop.fs.Path(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ok = Load.rollbackPartitions(fs,
      new org.apache.hadoop.fs.Path(root.resolve("t").toString),
      new org.apache.hadoop.fs.Path(root.resolve("t__old").toString),
      parts = Seq("p=a", "p=b", "p=c", "p=d"),
      swapped = Set("p=a", "p=d"))
    assert(ok, "rollback must report success")
    def read(rel: String) = new String(java.nio.file.Files.readAllBytes(root.resolve(rel)))
    assert(read("t/p=a/part-0") == "OLD-a", "published partition must revert")
    assert(read("t/p=b/part-0") == "OLD-b", "half-moved partition must be restored")
    assert(read("t/p=c/part-0") == "OLD-c", "untouched partition must stay")
    assert(!java.nio.file.Files.exists(root.resolve("t/p=d")),
      "brand-new published partition must be removed")
  }

  /** Drop a catalog table AND its leftover managed-warehouse directory
    * (debris from a crashed earlier test run would fail CREATE).
    */
  private def resetTables(names: String*): Unit = names.foreach { n =>
    spark.sql(s"DROP TABLE IF EXISTS `$n`")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val d = new java.io.File(wh, n)
    if (d.exists) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(d)
    }
  }

  test("replaceCatalogTable swaps atomically and reports row count") {
    val t = "load_cat_t1"
    resetTables(t, t + "__staging", t + "__old")
    assert(Load.replaceCatalogTable(spark, Seq(1, 2, 3).toDF("v"), t) ==
      Success(LoadReport(3, t)))
    assert(Load.replaceCatalogTable(spark, Seq(9, 10).toDF("v"), t) ==
      Success(LoadReport(2, t)))
    assert(spark.table(t).as[Int].collect().sorted.toSeq == Seq(9, 10))
    assert(!spark.catalog.tableExists(t + "__staging"))
    assert(!spark.catalog.tableExists(t + "__old"))
  }

  test("failed catalog load preserves the previous table (the reference's ROLLBACK)") {
    val t = "load_cat_t2"
    resetTables(t, t + "__staging", t + "__old")
    assert(Load.replaceCatalogTable(spark, Seq(1L, 2L, 3L).toDF("v"), t).isSuccess)
    // mid-write failure: ANSI cast throws inside the staging write job,
    // so the publish swap is never reached
    val bad = Seq("not-a-number").toDF("s").select(col("s").cast("long").as("v"))
    Load.replaceCatalogTable(spark, bad, t) match {
      case Failure(_) => // expected
      case Success(r) => fail(s"expected failure, got $r")
    }
    assert(spark.table(t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // and a subsequent good load recovers without manual cleanup
    assert(Load.replaceCatalogTable(spark, Seq(7L).toDF("v"), t).map(_.rows) ==
      Success(1L))
  }

  test("qualified db.tbl destination publishes to the named database, not a mis-quoted literal") {
    spark.sql("CREATE DATABASE IF NOT EXISTS load_qdb")
    val t = "load_qdb.qt1"
    Seq(t, t + "__staging", t + "__old").foreach { n =>
      spark.sql("DROP TABLE IF EXISTS " + n.split('.').map(p => s"`$p`").mkString("."))
      // clear leftover managed-warehouse debris (same rationale as
      // resetTables, one directory level deeper for the database)
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val d = new java.io.File(new java.io.File(wh, "load_qdb.db"), n.split('.').last)
      if (d.exists) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm)
          f.delete(); ()
        }
        rm(d)
      }
    }
    assert(Load.replaceCatalogTable(spark, Seq(1, 2).toDF("v"), t).map(_.rows) ==
      Success(2L))
    // the swap (the second load) is where the old one-identifier quoting broke
    assert(Load.replaceCatalogTable(spark, Seq(5).toDF("v"), t).map(_.rows) ==
      Success(1L))
    assert(spark.table(t).as[Int].collect().toSeq == Seq(5))
    assert(!spark.catalog.tableExists(t + "__staging"))
    assert(!spark.catalog.tableExists(t + "__old"))
    // and no single-part debris named "load_qdb.qt1*" landed in the default db
    assert(spark.catalog.listTables("default").collect().forall(!_.name.contains("qt1")))
    // names that can't be quoted safely are rejected, not mis-published
    assert(Load.replaceCatalogTable(spark, Seq(1).toDF("v"), "bad`tick").isFailure)
  }

  test("orphaned catalog backup without a destination refuses to load") {
    val t = "load_cat_t3"
    resetTables(t, t + "__staging", t + "__old")
    Seq(42).toDF("v").write.saveAsTable(t + "__old")
    val r = Load.replaceCatalogTable(spark, Seq(1).toDF("v"), t)
    assert(r.isFailure)
    // the backup copy is untouched and the destination was not created
    assert(spark.table(t + "__old").as[Int].collect().toSeq == Seq(42))
    assert(!spark.catalog.tableExists(t))
  }

  // ---- JDBC sink (embedded Derby — a real connection, real
  //      transaction semantics: the closest testable analogue of the
  //      reference's Snowflake TRUNCATE + bulk load + ROLLBACK) ----

  private def derbyUrl = "jdbc:derby:memory:loadspec;create=true"

  private def derbyQuery[T](sql: String)(f: java.sql.ResultSet => T): T = {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      try f(rs) finally rs.close()
    } finally conn.close()
  }

  private def derbyUpdate(sqls: String*): Unit = {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    try sqls.foreach { s =>
      val st = conn.createStatement()
      try st.executeUpdate(s) finally st.close()
    } finally conn.close()
  }

  test("replaceJdbcTable truncates and reloads in one transaction; reports rows") {
    derbyUpdate("""CREATE TABLE "jdbc_t1" ("id" BIGINT, "name" VARCHAR(32))""",
      """INSERT INTO "jdbc_t1" VALUES (99, 'stale'), (98, 'old')""")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    val r = Load.replaceJdbcTable(spark, df, derbyUrl, "jdbc_t1")
    assert(r.map(_.rows) == Success(3L), s"got $r")
    val got = derbyQuery("""SELECT "id", "name" FROM "jdbc_t1" ORDER BY "id"""") { rs =>
      Iterator.continually(rs).takeWhile(_.next()).map(x => (x.getLong(1), x.getString(2))).toList
    }
    assert(got == List((1L, "a"), (2L, "b"), (3L, "c")), "stale rows must be gone")
  }

  test("replaceJdbcTable creates a missing destination from the staged shape") {
    val df = Seq((7L, "x")).toDF("id", "name")
    val r = Load.replaceJdbcTable(spark, df, derbyUrl, "jdbc_t_new")
    assert(r.map(_.rows) == Success(1L), s"got $r")
    assert(derbyQuery("""SELECT count(*) FROM "jdbc_t_new"""") { rs => rs.next(); rs.getLong(1) } == 1L)
  }

  test("underscores in JDBC table names are not LIKE wildcards for the existence probe") {
    // 'jdbcXtp' would match the unescaped pattern 'jdbc_tp' and fake
    // destExists — the load must instead create 'jdbc_tp' and succeed
    derbyUpdate("""CREATE TABLE "jdbcXtp" ("id" BIGINT)""",
      """INSERT INTO "jdbcXtp" VALUES (1)""")
    val r = Load.replaceJdbcTable(spark, Seq((5L, "v")).toDF("id", "name"), derbyUrl, "jdbc_tp")
    assert(r.map(_.rows) == Success(1L), s"got $r")
    assert(derbyQuery("""SELECT count(*) FROM "jdbc_tp"""") { rs => rs.next(); rs.getLong(1) } == 1L)
    // the lookalike table is untouched
    assert(derbyQuery("""SELECT count(*) FROM "jdbcXtp"""") { rs => rs.next(); rs.getLong(1) } == 1L)
  }

  test("failed JDBC load rolls back — destination keeps its previous contents") {
    // destination with an INcompatible column type: the staged bulk
    // write succeeds, the INSERT…SELECT inside the transaction fails,
    // and the rollback must leave the original rows in place
    derbyUpdate("""CREATE TABLE "jdbc_t2" ("id" BIGINT, "name" BIGINT)""",
      """INSERT INTO "jdbc_t2" VALUES (1, 100), (2, 200)""")
    val df = Seq((5L, "not-a-number")).toDF("id", "name")
    val r = Load.replaceJdbcTable(spark, df, derbyUrl, "jdbc_t2")
    assert(r.isFailure, s"expected failure, got $r")
    val got = derbyQuery("""SELECT "id", "name" FROM "jdbc_t2" ORDER BY "id"""") { rs =>
      Iterator.continually(rs).takeWhile(_.next()).map(x => (x.getLong(1), x.getLong(2))).toList
    }
    assert(got == List((1L, 100L), (2L, 200L)), "rollback must preserve previous contents")
  }
}
