package graft

import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The one job counter of the test tree, shared by the specs
  * ([[SparkTestBase.jobsDuring]]) and `graft.dev.Probe`.
  */
object JobCounter {
  private val Tag = "graft.test.budget"

  /** Jobs launched by `body`'s thread (and threads it starts): see
    * [[withQueries]]. */
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, jobs, _) = withQueries(spark)(body)
    (out, jobs)
  }

  /** Jobs and SQL query executions launched by `body`'s thread (and
    * threads it starts), counted by a listener between two fence jobs:
    * the listener bus delivers in order, so once the closing fence
    * arrives every job and execution start of `body` has. A job is
    * `body`'s when it carries this call's token in the local property
    * `graft.test.budget`, and an execution when it carries the token as
    * a job tag; only `body`'s thread and the threads it starts inherit
    * either. An execution counts even when it runs no job, as a
    * `Dataset` action over a local relation does.
    */
  def withQueries[T](spark: SparkSession)(body: => T): (T, Int, Int) = {
    var out: Option[T] = None
    val (jobs, queries) = tally(spark, openingFence = true)(Seq(() => out = Some(body))).head
    (out.get, jobs, queries)
  }

  /** Jobs and query executions of each of `bodies`, run in turn, each
    * under its own token (see [[withQueries]]), with one fence after the
    * last. Without the opening fence no job runs before the first body,
    * so in a fresh JVM the first body pays Spark's first-job start-up
    * itself, as a nightly run's first query does.
    */
  def tally(spark: SparkSession, openingFence: Boolean)(bodies: Seq[() => Unit]): Seq[(Int, Int)] = {
    val sc = spark.sparkContext
    val run = UUID.randomUUID().toString
    val tokens = bodies.indices.map(i => s"$run/$i")
    val jobs = tokens.map(_ => new AtomicInteger)
    val queries = tokens.map(_ => new AtomicInteger)
    val fences = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).foreach {
          case t if t == run + "/fence" => fences.put(t)
          case t => tokens.indexOf(t) match { case -1 => case i => jobs(i).incrementAndGet() }
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart =>
          tokens.indices.filter(i => q.jobTags.contains(tokens(i))).foreach(queries(_).incrementAndGet())
        case _ =>
      }
    }
    def fence(): Unit = {
      sc.setLocalProperty(Tag, run + "/fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fences.poll(60, TimeUnit.SECONDS) != null,
        "listener bus did not deliver the fence job")
    }
    sc.addSparkListener(listener)
    try {
      if (openingFence) fence()
      bodies.zip(tokens).foreach { case (body, token) =>
        sc.setLocalProperty(Tag, token)
        sc.addJobTag(token)
        try body() finally sc.removeJobTag(token)
      }
      fence()
      jobs.map(_.get).zip(queries.map(_.get))
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
