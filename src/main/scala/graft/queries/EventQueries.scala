package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.functions.Exact._
import graft.operators.AsOfJoin

/** Event-stream-shaped batch coverage over the `events` fixture:
  * tumbling-window aggregation, gap-based sessionization, and the
  * backward as-of join (an operator Spark lacks natively — implemented
  * as union + window, one shuffle).
  */
object EventQueries {

  val queries: Seq[GraftQuery] = Seq(

    // ---- q44: tumbling 1-hour window counts + exact value sums ----
    GraftQuery(
      "q44_events_tumbling",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sumExact6(col("value")).as("sum_value")),
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
          event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
      """)),

    // ---- q45: sessionization — 30-minute inactivity gap per user ----
    GraftQuery(
      "q45_events_sessionize",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      },
      Some("""
        WITH w AS (
          SELECT user_id, ts,
            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events)
        SELECT user_id,
          CAST(sum(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
          count(*) AS n_events
        FROM w GROUP BY user_id
      """)),

    // ---- q46: backward as-of join — last click at-or-before each
    //      purchase, per user (union+window formulation, one shuffle) ----
    GraftQuery(
      "q46_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
        val clicks = ev.where(col("event_type") === "click")
        AsOfJoin.backward(purchases, clicks, "user_id", "ts", "ts", "event_id",
            leftCols = Seq("event_id"))
          .select(col("user_id"), col("event_id"),
            col("asof_event_id").as("last_click_id"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, ts, event_id, event_type FROM events
          WHERE event_type IN ('click', 'purchase')),
        w AS (
          SELECT user_id, event_id, event_type,
            last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
              OVER (PARTITION BY user_id
                    ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
                             CASE WHEN event_type = 'click' THEN event_id END
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
          FROM ev)
        SELECT user_id, event_id, last_click_id FROM w WHERE event_type = 'purchase'
      """)),

    // ---- q110: FORWARD as-of — for each click, the next purchase
    //      at-or-after it by the same user (operators.AsOfJoin.forward:
    //      same single-window union shape as q46's backward join, frame
    //      reversed). ----
    GraftQuery(
      "q110_asof_forward",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
        val clicks = ev.where(col("event_type") === "click")
        AsOfJoin.forward(clicks, purchases, "user_id", "ts", "ts", "event_id",
            leftCols = Seq("event_id"))
          .select(col("user_id"), col("event_id"),
            col("asof_event_id").as("next_purchase_id"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, ts, event_id, event_type FROM events
          WHERE event_type IN ('click', 'purchase')),
        w AS (
          SELECT user_id, event_id, event_type,
            first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
              OVER (PARTITION BY user_id
                    ORDER BY ts, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END,
                             CASE WHEN event_type = 'purchase' THEN event_id END
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_id
          FROM ev)
        SELECT user_id, event_id, next_purchase_id FROM w WHERE event_type = 'click'
      """)),

    // ---- q114: event-transition matrix — the "user path" analytics
    //      staple: per user, order events by time and count each
    //      (previous type → this type) transition corpus-wide. One
    //      window (the lag) + one aggregation; at scale both shuffle on
    //      user_id / the transition pair respectively, no self-join. ----
    GraftQuery(
      "q114_transition_matrix",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .where(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          FROM events)
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
      """))
  )
}
