package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The [[Derive]] functions never load Spark's `CollationAwareUTF8String`,
  * whose static initializer title-cases every code point into a lookup
  * table (about 1.7 s of a cold JVM). A child JVM runs them under
  * `-Xlog:class+load`, so no class the test JVM loaded earlier hides the
  * load.
  */
class DeriveColdStartSpec extends AnyFunSuite {

  test("the Derive functions never load CollationAwareUTF8String (child JVM, -Xlog:class+load)") {
    val cmd = Seq(java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString,
      "-Xmx256m", "-Xlog:class+load=info") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-cp", sys.props("java.class.path"), "graft.ops.DeriveMain")
    val log = java.nio.file.Files.createTempFile("graft_derive_classes", ".log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val exited = proc.waitFor(2, java.util.concurrent.TimeUnit.MINUTES)
    if (!exited) proc.destroyForcibly()
    val lines = new String(java.nio.file.Files.readAllBytes(log), "UTF-8").split("\n").toSeq
    assert(exited && proc.exitValue() == 0, lines.takeRight(40).mkString("\n"))
    assert(lines.exists(_.contains("graft.ops.Derive$ source:")), "the log shows no class loads")
    assert(lines.contains(DeriveMain.Expected), lines.filter(_.startsWith("[derive]")).mkString("\n"))
    val offending = lines.filter(_.contains("CollationAwareUTF8String"))
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}

/** Child-JVM half of [[DeriveColdStartSpec]]: runs every `Derive`
  * function, the non-ASCII case-mapping paths included, with no Spark
  * session, and prints the results on one line.
  */
object DeriveMain {
  val Expected: String =
    "[derive] ǅungla İstanbul Σίσυφος Fish|King'S Lynn|8|Female|Number|12|2024|" +
      "September 2023 to August 2024"

  def main(args: Array[String]): Unit = {
    val a1 = "HPV coverage, September 2023 to August 2024"
    val header = "Year 8 females: Number VACCİNATED"
    // UTF-8 whatever the JVM's default charset, as the spec reads the log
    val out = new java.io.PrintStream(System.out, true, "UTF-8")
    out.println(Seq(
      Derive.cleanName("  ǆUNGLA İSTANBUL ΣΊΣΥΦΟΣ ﬁsh "),
      Derive.cleanNamePandasTitle(" king's lynn "),
      Derive.yearGroupFromHeader(header),
      Derive.genderFromHeader(header),
      Derive.metricFromHeader(header),
      Derive.measure(" 12 "),
      Derive.academicYearEnd(a1).get,
      Derive.academicYearText(a1).get).mkString("[derive] ", "|", ""))
  }
}
