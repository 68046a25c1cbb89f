package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.ingest.{Workbook, Xlsx}
import graft.load.Load

/** [[HpvMain]] end to end in a child JVM under `-Xlog:class+load`: it
  * commits the rows `transform` gives in this JVM, and it starts no Spark
  * session. The runtime a session brings up (its listener bus, block
  * manager and task scheduler) is checked by class name; `SparkContext`
  * itself is not, since `SQLConf.get` loads it through `TaskContext`
  * with no context running. A run that finds the destination's lock
  * held fails, naming the holder, and leaves the committed table as it
  * was.
  */
class HpvMainSpec extends SparkTestBase {

  private val SessionClasses = Seq(
    "org.apache.spark.scheduler.LiveListenerBus",
    "org.apache.spark.storage.BlockManager",
    "org.apache.spark.scheduler.TaskSchedulerImpl",
    "org.apache.spark.sql.classic.SparkSession")

  private def csv(dir: Path, name: String, year: Int, rows: String*): Unit =
    Files.writeString(dir.resolve(name), (Seq(
      s"HPV coverage, September ${year - 1} to August $year,,,,",
      ",,,,",
      "Local authority,Year 8 females: Number,Year 8 females: Number vaccinated," +
        "Year 8 females: % vaccinated,Year 9 males: Number,Year 9 males: Number vaccinated") ++
      rows).mkString("", "\n", "\n"))

  /** Runs [[HpvMain]] on `data` into `dest` in a child JVM under
    * `-Xlog:class+load`; returns its exit code and its output lines
    * (stdout and stderr, with the class-load log). */
  private def runMain(data: Path, dest: String): (Int, Seq[String]) = {
    val cmd = Seq(java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString,
      "-Xmx512m", "-Xlog:class+load=info") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-cp", sys.props("java.class.path"), "graft.pipeline.HpvMain", data.toString, dest)
    val log = Files.createTempFile("graft_hpv_main_classes", ".log")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile)
    pb.environment().put("HPV_ENV_FILE", data.resolve("missing.env").toString)
    val proc = pb.start()
    val exited = proc.waitFor(3, java.util.concurrent.TimeUnit.MINUTES)
    if (!exited) proc.destroyForcibly()
    val lines = new String(Files.readAllBytes(log), "UTF-8").split("\n").toSeq
    Files.delete(log)
    assert(exited, lines.takeRight(40).mkString("\n"))
    (proc.exitValue(), lines)
  }

  /** Every regular file under `dir`, by relative path, with its bytes. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  test("HpvMain commits transform's rows and builds no SparkSession (child JVM, -Xlog:class+load)") {
    val data = Files.createTempDirectory("graft_hpv_main")
    csv(data, "2023.csv", 2023, " camden ,100,80,80.0,90,70", "ISLINGTON,*,60,50.0,50,40")
    csv(data, "2024.csv", 2024, "camden,110,95,86.4,,", "enfield,30,20,66.7,25,[E]")
    csv(data, "2025.csv", 2025, "barnet,40,4,10.0,44,33", "*,10,5,50.0,12,6")
    val dest = data.resolve("out").toString
    val expected = HpvPipeline.transform(
      Xlsx.glob(data.toString, ext = ".csv").map(p => Workbook.readCsvGrid(p)), LocalDate.now())

    val before = LocalDate.now()
    val (exit, lines) = runMain(data, dest)
    val after = LocalDate.now()
    assert(exit == 0, lines.takeRight(40).mkString("\n"))
    assert(lines.exists(_.contains("graft.pipeline.HpvMain$ source:")), "the log shows no class loads")

    val uploaded = lines.filter(_.startsWith("Uploaded "))
    assert(uploaded == Seq(s"Uploaded ${expected.data.size} rows to $dest"), uploaded.mkString("\n"))
    val committed = spark.read.parquet(dest)
    assert(committed.schema == HpvPipeline.OutputSchema, committed.schema.toString)
    // DATE_EXTRACT is the child's LocalDate.now()
    val dates = committed.select("DATE_EXTRACT").distinct().collect().map(_.getDate(0).toLocalDate)
    assert(dates.length == 1 && !dates.head.isBefore(before) && !dates.head.isAfter(after),
      dates.mkString(", "))
    assert(rowsOf(committed.drop("DATE_EXTRACT")) == rowsOf(frame(expected).drop("DATE_EXTRACT")))

    val offending = lines.filter(l => SessionClasses.exists(c => l.contains(s" $c source:")))
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("HpvMain refuses a held destination lock, naming the holder, and leaves the table as it was") {
    val data = Files.createTempDirectory("graft_hpv_main_lock")
    csv(data, "2024.csv", 2024, "camden,110,95,86.4,,", "enfield,30,20,66.7,25,[E]")
    val dest = data.resolve("out").toString
    // a committed table, and a writer that holds its lock
    Load.replaceTable(HpvPipeline.transform(
      Seq(Workbook.readCsvGrid(data.resolve("2024.csv").toString)), LocalDate.of(2024, 9, 1)), dest).get
    Files.writeString(Paths.get(dest + "__lock"), "nightly-load @ 2024-09-01T02:00:00Z")
    val committed = snapshot(Paths.get(dest))

    val (exit, lines) = runMain(data, dest)
    assert(exit != 0, lines.takeRight(40).mkString("\n"))
    assert(lines.exists(l => l.contains("LockHeldException") &&
      l.contains("locked by: nightly-load @ 2024-09-01T02:00:00Z")), lines.takeRight(40).mkString("\n"))
    assert(!lines.exists(_.startsWith("Uploaded ")))
    assert(snapshot(Paths.get(dest)) == committed, "the committed table changed")
    assert(Files.exists(Paths.get(dest + "__lock")), "the holder's lock was removed")
  }
}
