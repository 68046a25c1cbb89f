package graft.dev

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Sessions
import graft.ingest.{Workbook, Xlsx}
import graft.load.Load
import graft.pipeline.HpvPipeline

/** Runs named queries into the noop sink and prints one line each: the
  * Spark jobs the run launched (counted by [[graft.JobCounter]], the
  * specs' fenced counter), its wall time, and the join strategies,
  * shuffle exchanges and AQE shuffle reads of the write's executed
  * plan, after AQE re-planned it. The query's `prepare` runs first,
  * outside the counted region, as Bench stages it.
  *
  * `hpv <workbookDir>` instead runs one cold and one warm HPV cycle over
  * the directory's `.xlsx` workbooks ([[hpv]]).
  *
  * Usage: sbt "Test/runMain graft.dev.Probe <sfDir> <query ...>"
  *        sbt "Test/runMain graft.dev.Probe hpv <workbookDir>"
  */
object Probe {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("hpv")) hpv(args(1)) else queries(args.head, args.tail.toSeq)

  /** One cold and one warm HPV cycle in this fresh JVM, split into the
    * nightly run's phases: ingest (glob and read), `stack`, `combine`
    * and the load. Prints one line per phase with its wall time, jobs
    * and query executions, then the cycle's total. The phases call the
    * session-free forms `HpvMain` calls; the session built first serves
    * only [[graft.JobCounter]], and its set-up is printed on its own
    * line. The counter fences only after each cycle, so no job runs
    * before the cold cycle and its phases pay the JVM's start-up costs
    * as a nightly run does.
    */
  private def hpv(workbookDir: String): Unit = {
    val t0 = System.nanoTime()
    val spark = Sessions.local(Sessions.envCores)
    println(f"[probe] hpv session set-up ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    val dest = java.nio.file.Files.createTempDirectory("graft_probe_hpv").resolve("t").toString
    val extract = java.time.LocalDate.of(2026, 1, 15)
    for (cycle <- Seq("cold", "warm")) {
      var workbooks = Seq.empty[Workbook]
      var rows = Seq.empty[org.apache.spark.sql.Row]
      var fact: org.apache.spark.sql.catalyst.plans.logical.LocalRelation = null
      val phases = Seq[(String, () => Unit)](
        "ingest" -> (() => workbooks =
          Xlsx.glob(workbookDir).map(p => Xlsx.readWorkbook(p, "Local_authority"))),
        "stack" -> (() => rows = HpvPipeline.stack(workbooks, extract)),
        "combine" -> (() => fact = HpvPipeline.combine(rows)),
        "load" -> (() => Load.replaceTable(fact, dest).get))
      val secs = new Array[Double](phases.size)
      val counts = graft.JobCounter.tally(spark, openingFence = false)(phases.indices.map { i => () =>
        val t = System.nanoTime()
        phases(i)._2()
        secs(i) = (System.nanoTime() - t) / 1e9
      })
      phases.indices.foreach { i =>
        println(f"[probe] hpv $cycle%-4s ${phases(i)._1}%-8s ${secs(i)}%6.3f s " +
          f"jobs=${counts(i)._1}%2d queries=${counts(i)._2}%2d")
      }
      println(f"[probe] hpv $cycle%-4s cycle    ${secs.sum}%6.3f s " +
        f"jobs=${counts.map(_._1).sum}%2d queries=${counts.map(_._2).sum}%2d workbooks=${workbooks.size}")
    }
    spark.stop()
  }

  private def queries(sfDir: String, names: Seq[String]): Unit = {
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
    names.foreach { n =>
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
