package graft

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** The fenced job counter the specs and `graft.dev.Probe` share. */
class JobCounterSpec extends SparkTestBase {
  import spark.implicits._

  test("the fenced counter sees body's jobs only: local collect 0, one-partition write 1, another thread's job 0") {
    val (rows, local) = jobsDuring(Seq(1L, 2L, 3L).toDF("v").collect())
    assert(rows.length == 3)
    assert(local == 0, s"a local relation's collect ran $local job(s)")

    val dir = java.nio.file.Files.createTempDirectory("graft_jobcounter").resolve("t").toString
    val (_, write) = jobsDuring(spark.range(0, 10, 1, 1).write.parquet(dir))
    assert(write == 1, s"a one-partition parquet write counted $write job(s)")

    // the pool's thread exists before the counter sets its local
    // property, so it does not inherit it: its job is not body's
    val pool = Executors.newSingleThreadExecutor()
    try {
      def onPool(body: => Long): Long =
        pool.submit(new Callable[Long] { def call(): Long = body }).get()
      onPool(0L)
      val (n, outside) = jobsDuring(onPool(spark.range(0, 10, 1, 2).count()))
      assert(n == 10L)
      assert(outside == 0, s"a job from a thread without the counter's property counted $outside")
    } finally pool.shutdown()
  }

  test("the fenced counter sees body's query executions: a local collect 1, createDataFrame 0") {
    val df = Seq(1L, 2L, 3L).toDF("v")
    val (_, collectJobs, collects) = JobCounter.withQueries(spark)(df.collect())
    assert(collects == 1 && collectJobs == 0,
      s"a local relation's collect counted $collects execution(s), $collectJobs job(s)")
    val rows = df.collect().toSeq.asJava
    val (_, _, built) = JobCounter.withQueries(spark)(spark.createDataFrame(rows, df.schema))
    assert(built == 0, s"createDataFrame counted $built execution(s)")
  }
}
