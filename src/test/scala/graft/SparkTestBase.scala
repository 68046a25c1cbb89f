package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4)

  /** Await the ContextCleaner contract for ORPHANED checkpoint blocks:
    * a block whose plan was truncated away (e.g. an operator-internal
    * staging checkpoint under a re-checkpointed result) is released
    * only after GC notices the RDD is unreachable — inherently
    * asynchronous, so asserting `getPersistentRDDs.isEmpty` directly
    * races the cleaner. Bounded GC+poll loop; returns the leftover map
    * (empty on success) so the assertion message can name survivors.
    */
  def awaitStorageEmpty(maxTries: Int = 50): scala.collection.Map[Int, org.apache.spark.rdd.RDD[_]] = {
    var tries = 0
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && tries < maxTries) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    spark.sparkContext.getPersistentRDDs
  }

  /** Jobs launched by `body`, fenced: see [[JobCounter.during]]. */
  def jobsDuring[T](body: => T): (T, Int) = JobCounter.during(spark)(body)

  /** Order-insensitive comparison (SURVEY N8): rows as multisets. */
  def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  def assertSameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.columns.sorted.toSeq == b.columns.sorted.toSeq, "column sets differ")
    val cols = a.columns.sorted.toIndexedSeq
    val av = rowsOf(a.select(cols.map(org.apache.spark.sql.functions.col): _*))
    val bv = rowsOf(b.select(cols.map(org.apache.spark.sql.functions.col): _*))
    assert(av == bv, s"row multisets differ: only-left=${av.toSet -- bv.toSet} only-right=${bv.toSet -- av.toSet}")
  }
}
