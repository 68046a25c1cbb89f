package graft.dev

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Sessions

/** Runs named queries into the noop sink and prints one line each: the
  * Spark jobs the run launched (counted by [[graft.JobCounter]], the
  * specs' fenced counter), its wall time, and the join strategies,
  * shuffle exchanges and AQE shuffle reads of the write's executed
  * plan, after AQE re-planned it. The query's `prepare` runs first,
  * outside the counted region, as Bench stages it.
  *
  * Usage: sbt "Test/runMain graft.dev.Probe <sfDir> <query ...>"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Sessions.local(Sessions.envCores)
    // the DataFrame's own plan is never executed by a write, and its
    // AdaptiveSparkPlan stays the initial one: read the write's plan.
    // Execution events share the listener queue with the counter's
    // fence, so the closing fence also delivers the write's event.
    val lastPlan = new AtomicReference[SparkPlan]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastPlan.set(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    val helper = new AdaptiveSparkPlanHelper {}
    args.tail.foreach { n =>
      val q = graft.Registry.byName(n)
      q.prepare.foreach(p => p(spark, sfDir))
      val ((df, sec), jobs) = graft.JobCounter.during(spark) {
        val t0 = System.nanoTime()
        val df = q.run(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      // nodes, not plan text: a final AdaptiveSparkPlan prints its
      // initial plan too, and "Exchange" also matches broadcasts
      val nodes = helper.collect(lastPlan.get) { case node => node }
      def count(name: String) = nodes.count(_.nodeName == name)
      val exch = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      println(f"[probe] $n%-38s jobs=$jobs%3d wall=$sec%6.2f s " +
        f"SMJ=${count("SortMergeJoin")}%2d BHJ=${count("BroadcastHashJoin")}%2d " +
        f"SHJ=${count("ShuffledHashJoin")}%2d Exch=$exch%2d " +
        f"AQERead=${count("AQEShuffleRead")}%2d")
      graft.operators.Lineage.release(df, blocking = true)
    }
    spark.stop()
  }
}
