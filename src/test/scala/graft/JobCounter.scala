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
    val sc = spark.sparkContext
    val token = UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val queries = new AtomicInteger
    val fences = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).foreach {
          case t if t == token + "/fence" => fences.put(t)
          case t if t == token => jobs.incrementAndGet()
          case _ =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart if q.jobTags.contains(token) =>
          queries.incrementAndGet()
        case _ =>
      }
    }
    def fence(): Unit = {
      sc.setLocalProperty(Tag, token + "/fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fences.poll(60, TimeUnit.SECONDS) != null,
        "listener bus did not deliver the fence job")
    }
    sc.addSparkListener(listener)
    try {
      fence()
      sc.setLocalProperty(Tag, token)
      sc.addJobTag(token)
      val out = try body finally sc.removeJobTag(token)
      fence()
      (out, jobs.get(), queries.get())
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
