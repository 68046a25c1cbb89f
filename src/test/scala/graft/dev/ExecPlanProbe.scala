package graft.dev

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Dev-only: RUN named queries and print the EXECUTED plan's join
  * strategies and exchange count — the static explain shows the
  * pre-AQE plan (SortMergeJoin rows that AQE upgrades to broadcast at
  * runtime), so "fix the join strategy" decisions must read this
  * (guide §7.2).
  *
  * Usage: sbt "Test/runMain graft.dev.ExecPlanProbe [sfDir] <query ...>"
  */
object ExecPlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.tail.toSeq
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val helper = new AdaptiveSparkPlanHelper {}
    names.foreach { n =>
      val q = graft.Registry.byName(n)
      q.prepare.foreach(p => p(spark, sfDir))
      val df = q.run(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan
      val p = plan.toString
      // shuffle exchanges by node type: a text match on "Exchange" also
      // counts BroadcastExchange and ReusedExchange lines
      val exch = helper.collect(plan) { case e: ShuffleExchangeLike => e }.size
      println(f"[execplan] $n%-38s SMJ=${"SortMergeJoin".r.findAllIn(p).size}%2d " +
        f"BHJ=${"BroadcastHashJoin".r.findAllIn(p).size}%2d " +
        f"SHJ=${"ShuffledHashJoin".r.findAllIn(p).size}%2d " +
        f"Exch=$exch%2d " +
        f"AQERead=${"AQEShuffleRead".r.findAllIn(p).size}%2d")
      graft.operators.Lineage.release(df, blocking = true)
    }
    spark.stop()
  }
}
