package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same fixture tables. Bench times ALL registered queries.
  *
  * `prepare` is the build/probe split for index-backed queries (IVF,
  * PQ, IVF-PQ): it stages the one-time index build (via
  * [[graft.core.Prepared]]) so Bench can time it SEPARATELY from the
  * per-query probe — the steady-state serving cost. Bench reports both
  * (`builds` map + probe in `queries`) and counts both in the total;
  * Verify never calls it, so `run` must fall back to building inline
  * (identical results either way — the correctness gate exercises the
  * fallback path).
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "",
    prepare: Option[(SparkSession, String) => Unit] = None)
