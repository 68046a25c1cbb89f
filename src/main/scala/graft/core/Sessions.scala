package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults are chosen for the 100-TB design point scaled down to the
  * local[N] test harness: AQE on (runtime shuffle coalescing + skew-join
  * splitting), UTC session time zone (deterministic date math vs. the
  * DuckDB oracle), and a shuffle-partition count matching local cores
  * (on a real cluster this would be sized to ~2-3x total executor cores
  * or left to AQE's coalescing).
  */
object Sessions {

  /** Apply graft's standard configuration to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // parquet timestamps without isAdjustedToUTC read as plain
      // TIMESTAMP (UTC instants under the session zone above), not
      // TIMESTAMP_NTZ: NTZ breaks event-time watermarks and
      // unix_micros, and under a UTC session the two types denote the
      // same wall-clock values anyway — the oracle (which reads the
      // same files as naive timestamps) agrees by construction.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // ObjectHashAggregate (percentile maps, collect_*, the typed
      // buffer aggregates) silently degrades to SORT-BASED aggregation
      // past this many distinct keys in a partial's hash map — the
      // Spark default of 128 turns any few-hundred-group profile query
      // into a full sort of the fact table (measured: q155's 498-group
      // ExactPercentiles partial spent its time sorting 6M rows, not
      // aggregating). 4096 keeps hash aggregation through the
      // dashboard-profile regime while still bounding worst-case
      // buffer residency (4096 groups × the largest per-group buffer);
      // genuinely high-cardinality aggregations still fall back.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // local-mode warehouse for bucketed/managed staging tables; a
      // deployment overrides this with its real warehouse location
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft_warehouse")
      .config("spark.ui.enabled", "false")

  /** Cores a local run uses when `SPARK_GRAFT_CPUS` is unset: this
    * machine's, capped at 32.
    */
  val DefaultCores: Int = Runtime.getRuntime.availableProcessors.min(32)

  /** `SPARK_GRAFT_CPUS`, else [[DefaultCores]]: the core count (and
    * shuffle-partition count) of the Bench, Verify and ScaleUp mains.
    */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(DefaultCores)(_.toInt)

  /** Local session for tests / ad-hoc runs, with graft's SQL function
    * extensions registered. Registration also runs imperatively on the
    * returned session: builder-time `withExtensions` is silently dropped
    * when `getOrCreate` reuses a session that already exists in the JVM.
    */
  def local(cores: Int = DefaultCores): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .appName("graft")
      .withExtensions(new graft.GraftExtensions()(_))
      .getOrCreate()
    graft.GraftExtensions.ensureRegistered(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
