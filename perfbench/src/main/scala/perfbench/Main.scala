package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.LocalDate

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.Xlsx
import graft.load.Load
import graft.operators.Lineage
import graft.pipeline.HpvPipeline

/** One timed operation: a full HPV cycle or one engine query. */
final case class Op(name: String, kind: String, seconds: Double, ok: Boolean,
    error: String, rows: Long, hash: String)

/** The benchmark's JVM side, driven by `perfbench/run.py`.
  *
  * Modes (arguments are `key=value`):
  *  - `mode=dump`: fingerprint the parquet results `graft.Verify` dumped
  *    under `dir` for `queries`, to pin them (see `pin.py`);
  *  - `mode=run kind=hpv`: cold cycle, then `passes` warm cycles of
  *    glob → readWorkbook → HpvPipeline.transform → Load.replaceTable
  *    into one destination; after each cycle, outside its timer, the
  *    committed table is read back and fingerprinted;
  *  - `mode=run kind=engine`: the `cold` query, then `passes` passes
  *    over `queries`, each query as GraftQuery.prepare + run, a
  *    fingerprinting sink action and Lineage.release.
  *
  * With `trace=1` every warm operation also runs once traced, with spans
  * and listeners on; the result file then carries the per-layer metrics
  * of the traced operations. Only the engine's public functions are
  * called.
  */
object Main {
  private val sheet = "Local_authority"

  def main(args: Array[String]): Unit = {
    val a = args.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val launchMs = a("launch_ms").toDouble
    val cores = a("cores").toInt
    val load1 = Host.load1
    val spark = graft.core.Sessions
      .configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .appName("perfbench")
      .config("spark.local.dir", a("local_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = new Json
    try {
      a("mode") match {
        case "dump" => out.ops("ops", a("queries").split(",").toSeq.map { q =>
          val fp = fingerprint(spark.read.parquet(s"${a("dir")}/$q"), q)
          Op(q, "dump", 0, ok = true, "", fp.rows, fp.hex)
        })
        case _ => new Run(spark, a, cores, launchMs, out).apply()
      }
      out.num("load1", load1)
      out.num("peak_rss_mb", Host.peakRssMb)
    } finally spark.stop()
    Files.writeString(Paths.get(a("out")), out.render)
  }

  /** Run `df` into the fingerprinting sink. */
  def fingerprint(df: DataFrame, token: String): Fingerprint = {
    df.write.format(FingerprintSink.Format).mode("overwrite").option("token", token).save()
    FingerprintSink.take(token).getOrElse(throw new IllegalStateException("no fingerprint"))
  }

  private final class Run(spark: SparkSession, a: Map[String, String], cores: Int,
      launchMs: Double, out: Json) {
    private val tracer = new Tracer(spark)
    private val ops = mutable.ArrayBuffer.empty[Op]
    private val passes = a("passes").toInt
    private val kind = a("kind")

    def apply(): Unit = {
      val firstMs = System.currentTimeMillis()
      val steal0 = Host.stealJiffies
      val cycle: (String, String) => Unit = kind match {
        case "hpv"    => hpvCycle
        case "engine" => engineQuery
        case other    => throw new IllegalArgumentException(s"unknown kind $other")
      }
      val passOps: Seq[String] =
        if (kind == "hpv") Seq("cycle") else a("queries").split(",").toSeq
      cycle(if (kind == "hpv") "cycle" else a("cold"), "cold")
      if (a("trace") != "1") for (_ <- 0 until passes; n <- passOps) cycle(n, "warm")
      else {
        val collector = new Collector
        val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
        val sc = spark.sparkContext
        def traced(n: String): Unit = {
          sc.addSparkListener(collector)
          spark.listenerManager.register(collector)
          tracer.enabled = true
          try cycle(n, "traced")
          finally {
            tracer.enabled = false
            // deliver this operation's events before the listeners go
            org.apache.spark.perfbench.Bus.drain(sc)
            spark.listenerManager.unregister(collector)
            sc.removeSparkListener(collector)
          }
        }
        // each operation runs once plain and once traced, back to back, in
        // alternating order, so warm-up favours neither side of the
        // tracing overhead
        for (p <- 0 until passes; (n, j) <- passOps.zipWithIndex)
          if ((p + j) % 2 == 0) { cycle(n, "warm"); traced(n) }
          else { traced(n); cycle(n, "warm") }
        out.obj("layers", Layers.metrics(tracer.spans.toSeq, collector, cores, passes, epochOffsetMs))
        writeSpans(a("spans"), epochOffsetMs)
      }
      out.num("setup_s", (firstMs - launchMs) / 1000)
      out.num("steal_s", (Host.stealJiffies - steal0) / 100.0)
      out.ops("ops", ops.toSeq)
    }

    private def timed(name: String, kind: String)(body: => Fingerprint): Unit = {
      val t0 = System.nanoTime()
      val r = try Right(tracer.span("op", name)(body)) catch { case NonFatal(e) => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      ops += (r match {
        case Right(fp) => Op(name, kind, s, ok = true, "", fp.rows, fp.hex)
        case Left(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          Op(name, kind, s, ok = false, String.valueOf(e.getMessage), -1, "")
      })
    }

    // ---- HPV: the paper's nightly run, glob to committed table ----

    private lazy val inDir = a("in")
    private lazy val dest = a("dest")
    private lazy val extract = LocalDate.parse(a("extract"))

    private def hpvCycle(name: String, kind: String): Unit = {
      var committed = false
      timed(name, kind) {
        val paths = tracer.span("ingest.glob")(Xlsx.glob(inDir))
        val workbooks = tracer.span("ingest.read")(
          paths.map(p => Xlsx.readWorkbook(spark, p, sheet)))
        val fact = tracer.span("pipeline.transform")(HpvPipeline.transform(workbooks, extract))
        tracer.span("load.replace")(Load.replaceTable(spark, fact, dest).get)
        committed = true
        Fingerprint(0, 0)
      }
      // the read-back check runs outside the cycle's timer and spans
      if (committed) {
        val fp = committedFingerprint()
        ops(ops.size - 1) = ops.last.copy(rows = fp.rows, hash = fp.hex)
      }
    }

    /** Canonical fingerprint of the committed table: every value cast to
      * string (null as \N), joined by U+001F; per row the first 8 bytes
      * of its SHA-256, summed modulo 2^64. `hpvmodel.py` computes the
      * same over the model's rows.
      */
    private def committedFingerprint(): Fingerprint = {
      val t = spark.read.parquet(dest)
      val rows = t.select(HpvPipeline.OutputSchema.fieldNames.toSeq.map(c =>
        col(c).cast("string")): _*).collect()
      val md = MessageDigest.getInstance("SHA-256")
      var sum = 0L
      rows.foreach { r =>
        val line = (0 until r.length).map(i => if (r.isNullAt(i)) "\\N" else r.getString(i))
          .mkString("\u001f")
        sum += java.nio.ByteBuffer.wrap(md.digest(line.getBytes(StandardCharsets.UTF_8))).getLong
      }
      Fingerprint(rows.length, sum)
    }

    // ---- engine: registered queries at a fixed scale ----

    private lazy val dataDir = a("data")
    private lazy val registry = graft.Registry.byName
    private var token = 0L

    private def engineQuery(name: String, kind: String): Unit = {
      val q = registry.getOrElse(name, throw new IllegalArgumentException(s"no query $name"))
      token += 1
      val t = s"$name-$token"
      timed(name, kind) {
        try {
          q.prepare.foreach(p => tracer.span("queries.prepare")(p(spark, dataDir)))
          val df: DataFrame = tracer.span("queries.build")(q.run(spark, dataDir))
          val fp = tracer.span("queries.exec")(fingerprint(df, t))
          tracer.span("queries.release")(Lineage.release(df, blocking = true))
          fp
        } catch {
          case NonFatal(e) => graft.core.Prepared.dropPrefix(q.name); throw e
        }
      }
      // between-query hygiene outside the timer, as graft.Bench does
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    private def writeSpans(path: String, epochOffsetMs: Double): Unit = {
      val lines = tracer.spans.sortBy(_.startNs).map { s =>
        val j = new Json
        j.long("id", s.id)
        j.long("parent", s.parent)
        j.str("name", s.name)
        j.str("label", s.label)
        j.num("start_ms", s.startNs / 1e6 + epochOffsetMs)
        j.num("end_ms", s.endNs / 1e6 + epochOffsetMs)
        j.render
      }
      Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
    }
  }
}

/** Host readings: steal, load and the process's peak resident set. */
object Host {
  private def read(p: String): Option[String] =
    try Some(Files.readString(Paths.get(p))) catch { case NonFatal(_) => None }

  /** Hypervisor steal in USER_HZ (1/100 s) jiffies, /proc/stat field 8. */
  def stealJiffies: Long = read("/proc/stat").flatMap { s =>
    val f = s.linesIterator.next().trim.split("\\s+")
    if (f.length > 8) f(8).toLongOption else None
  }.getOrElse(0L)

  def load1: Double =
    read("/proc/loadavg").flatMap(_.trim.split("\\s+").headOption.flatMap(_.toDoubleOption))
      .getOrElse(-1.0)

  /** VmHWM; in local mode the driver and executors share this process. */
  def peakRssMb: Double = read("/proc/self/status").flatMap { s =>
    s.linesIterator.find(_.startsWith("VmHWM:"))
      .flatMap(_.split("\\s+").lift(1)).flatMap(_.toDoubleOption)
  }.map(_ / 1024).getOrElse(-1.0)
}

/** Just enough JSON for the result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def num(k: String, v: Double): Unit = fields += s"${q(k)}:${n(v)}"
  def long(k: String, v: Long): Unit = fields += s"${q(k)}:$v"
  def str(k: String, v: String): Unit = fields += s"${q(k)}:${q(v)}"
  def obj(k: String, m: Map[String, Double]): Unit =
    fields += s"${q(k)}:" + m.toSeq.sortBy(_._1).map { case (x, v) => s"${q(x)}:${n(v)}" }
      .mkString("{", ",", "}")
  def ops(k: String, xs: Seq[Op]): Unit =
    fields += s"${q(k)}:" + xs.map { o =>
      s"""{"name":${q(o.name)},"kind":${q(o.kind)},"s":${n(o.seconds)},"ok":${o.ok},""" +
        s""""error":${q(o.error)},"rows":${o.rows},"hash":${q(o.hash)}}"""
    }.mkString("[", ",", "]")
  def render: String = fields.mkString("{", ",", "}")
}
