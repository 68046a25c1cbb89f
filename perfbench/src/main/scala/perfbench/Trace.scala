package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine: name, start, end and the span that
  * caused it (0 for a top-level operation).
  */
final case class Span(id: Long, parent: Long, name: String, label: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the engine. While tracing is
  * on, every span publishes its id as a local property, so the jobs the
  * call launches carry it and the [[Collector]] can charge their work to
  * the call. Spans stay in memory; the run writes them out at exit.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanProp

  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L

  def span[A](name: String, label: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val outer = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, outer)
        spans += Span(id, parent, name, label, t0, t1)
      }
    }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Per-span work counters filled from listener events. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var outputBytes = 0L
}

/** A finished SQL execution: the API call that ran it, its duration and
  * its analysis + optimizer + physical planning time.
  */
final case class Execution(id: Long, funcName: String, durationNs: Long,
    planMs: Long, planStartMs: Long)

/** The traced run's listeners: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for SQL executions. Events are
  * charged to the span whose id the job carried; a SQL execution is
  * charged through its jobs, or by time when it ran none. Each kind of
  * callback runs on one listener-bus thread; results are read after a
  * drain.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val work = new ConcurrentHashMap[Long, Work]()
  private val execs = new java.util.concurrent.ConcurrentLinkedQueue[Execution]()

  private def workOf(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).foreach { span =>
      e.stageIds.foreach(stageSpan.put(_, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.put(x.toLong, span))
      workOf(span).jobs += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(workOf(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val w = workOf(span)
      val info = e.taskInfo
      val m = e.taskMetrics
      w.tasks += 1
      if (m != null) {
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.resultBytes += m.resultSize
        w.outputBytes += m.outputMetrics.bytesWritten
        // the scheduler delay as Spark's UI defines it
        if (info != null && info.finished)
          w.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    execs.add(Execution(qe.id, funcName, durationNs, phases.map(_.durationMs).sum,
      if (phases.isEmpty) 0L else phases.map(_.startTimeMs).min))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Work charged to each span id; call after the listener bus drained. */
  def workBySpan: Map[Long, Work] = work.asScala.toMap

  /** Each finished SQL execution with the span it ran under, if any. */
  def executions(spans: Seq[Span], epochOffsetMs: Double): Seq[(Execution, Option[Long])] =
    execs.asScala.toSeq.map { x =>
      val viaJobs = Option(execSpan.get(x.id))
      // an execution that launched no job is charged to the innermost
      // span that was open when its planning started
      lazy val byTime = spans.filter { s =>
        val start = s.startNs / 1e6 + epochOffsetMs
        val end = s.endNs / 1e6 + epochOffsetMs
        x.planStartMs >= start && x.planStartMs <= end
      }.sortBy(s => s.endNs - s.startNs).headOption.map(_.id)
      (x, viaJobs.orElse(if (x.planStartMs > 0) byTime else None))
    }
}

object Layers {

  /** Per-layer metrics of the traced passes, each divided by `passes`.
    * Names follow the repo's modules (ingest, pipeline, load, queries)
    * and the Spark runtime that core.Sessions configures (spark).
    */
  def metrics(spans: Seq[Span], collector: Collector, cores: Int, passes: Int,
      epochOffsetMs: Double): Map[String, Double] = {
    val work = collector.workBySpan
    val byId = spans.map(s => s.id -> s).toMap
    val execs = collector.executions(spans, epochOffsetMs)
    def named(n: String) = spans.filter(_.name == n)
    def ms(n: String) = named(n).map(_.ms).sum
    def sumWork(ids: Iterable[Long])(f: Work => Long): Double =
      ids.flatMap(work.get).map(f).sum.toDouble
    def jobsUnder(n: String) = sumWork(named(n).map(_.id))(_.jobs)
    def execsUnder(n: String) = execs.collect {
      case (x, Some(id)) if byId.get(id).exists(_.name == n) => x
    }
    val tops = spans.filter(_.parent == 0)
    val all = spans.map(_.id)
    val replaceExecs = execsUnder("load.replace")
    val writeMs = replaceExecs.filter(_.funcName != "count").map(_.durationNs / 1e6).sum
    val countMs = replaceExecs.filter(_.funcName == "count").map(_.durationNs / 1e6).sum
    val runMs = sumWork(all)(_.taskRunMs)
    val wallMs = tops.map(_.ms).sum
    val raw = Map(
      "ingest.glob_ms" -> ms("ingest.glob"),
      "ingest.read_ms" -> ms("ingest.read"),
      "pipeline.transform_ms" -> ms("pipeline.transform"),
      "pipeline.transform_jobs" -> jobsUnder("pipeline.transform"),
      "load.replace_ms" -> ms("load.replace"),
      "load.write_ms" -> writeMs,
      "load.countback_ms" -> countMs,
      "load.swap_ms" -> math.max(0.0, ms("load.replace") - writeMs - countMs),
      "load.jobs" -> jobsUnder("load.replace"),
      "load.bytes" -> sumWork(named("load.replace").map(_.id))(_.outputBytes),
      "queries.prepare_ms" -> ms("queries.prepare"),
      "queries.build_ms" -> ms("queries.build"),
      "queries.build_jobs" -> jobsUnder("queries.build"),
      "queries.exec_ms" -> ms("queries.exec"),
      "queries.release_ms" -> ms("queries.release"),
      "spark.plan_ms" -> execs.collect { case (x, Some(_)) => x.planMs.toDouble }.sum,
      "spark.jobs" -> sumWork(all)(_.jobs),
      "spark.stages" -> sumWork(all)(_.stages),
      "spark.tasks" -> sumWork(all)(_.tasks),
      "spark.task_run_ms" -> runMs,
      "spark.task_cpu_ms" -> sumWork(all)(_.taskCpuNs) / 1e6,
      "spark.gc_ms" -> sumWork(all)(_.gcMs),
      "spark.sched_delay_ms" -> sumWork(all)(_.schedDelayMs),
      "spark.shuffle_write_bytes" -> sumWork(all)(_.shuffleWriteBytes),
      "spark.shuffle_read_bytes" -> sumWork(all)(_.shuffleReadBytes),
      "spark.spill_bytes" -> sumWork(all)(_.spillBytes),
      "spark.result_bytes" -> sumWork(all)(_.resultBytes))
    val perPass = raw.map { case (k, v) => k -> v / passes }
    perPass + ("spark.idle_core_frac" ->
      (if (wallMs <= 0) 0.0 else math.max(0.0, 1.0 - runMs / (cores * wallMs))))
  }
}
