package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD Type-2 merge — the warehouse dimension-history pattern: instead
  * of overwriting a changed attribute, the current row is CLOSED
  * (`valid_to` set to the change timestamp) and a new version OPENED
  * (`valid_from` = change ts, `valid_to` null). Joins against facts can
  * then ask "what was this customer's segment AT order time" — the
  * question an overwrite destroys the answer to.
  *
  * Merge semantics per key: the batch's updates are SEQUENCED BY ts
  * (the real-CDC shape — one batch may carry a whole change chain):
  *  - each update is compared to the version before it (the key's
  *    current row for the earliest update, the prior update after
  *    that); equal attrs (null-safe) → no-op, dropped;
  *  - each remaining change opens a version valid [its ts, next
  *    change's ts), the last one open-ended;
  *  - a key's current row is closed at the first change's ts;
  *  - a previously-unseen key opens its chain with its first update.
  * History rows already closed ride through untouched.
  *
  * Fail-loud guards ride INSIDE the plan (assert-filter columns), so a
  * merge is ONE action — no eager validation jobs re-reading the
  * update batch before the caller's own action:
  *  - two DIFFERENT attribute values for one key at the same timestamp
  *    have no defined order → error at execution (exact-duplicate
  *    rows — at-least-once replays — are deduped first, harmlessly);
  *  - an effective ts EARLIER than the open row's valid_from would
  *    write an inverted validity interval → error at execution.
  *
  * Scale shape: one equi-join of updates against the CURRENT slice on
  * the key (broadcast when the update batch is small — the nightly
  * case) plus per-key windows over the update batch; closed history
  * never shuffles. Pairs with `Load.replaceTable` to publish the
  * result.
  */
object Scd {

  /** @param history  existing dimension history (key, attrs…,
    *                 valid_from, valid_to — null valid_to = current)
    * @param updates  new rows: (key, attrs…, effective-ts column `ts`);
    *                 multiple updates per key are applied in ts order
    * @param key      business key column
    * @param attrs    tracked attribute columns (same names both sides)
    */
  def merge(
      history: DataFrame, updates: DataFrame, key: String, attrs: Seq[String],
      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val histCols = (Seq(key) ++ attrs ++ Seq("valid_from", "valid_to")).map(col)
    val current = history.where(col("valid_to").isNull)
    val closedHistory = history.where(col("valid_to").isNotNull)

    // Exact duplicate rows (same key, ts, AND attrs — at-least-once
    // replays) are harmless: dedup them before anything else, so only
    // genuinely CONFLICTING same-ts updates can trip the tie guard.
    val u = updates
      .select((Seq(col(key)) ++ attrs.map(col) :+ col(tsCol).as("_ts")): _*)
      .dropDuplicates(Seq(key) ++ attrs :+ "_ts")
    val cur = current.select(
      (Seq(col(key)) ++ attrs.map(c => col(c).as(s"_cur_$c")) :+
        col("valid_from").as("_cur_from")): _*)

    // Deterministic total order: ts first, attrs as tie-breakers — the
    // post-dedup rows are distinct, so lag/row_number never depend on
    // partition-local arrival order even for same-ts conflicts.
    val wOrd = Window.partitionBy(col(key))
      .orderBy(col("_ts") +: attrs.map(col): _*)
    val isNew = col("_cur_from").isNull
    // the version each update is compared against: the key's current row
    // for the earliest update, the prior update in ts order after that.
    // Comparing to the immediate PREDECESSOR row (kept or dropped) is
    // equivalent to comparing to the last kept version: a dropped row
    // equals its own predecessor, so equality chains transitively.
    def prevAttr(c: String): Column =
      when(col("_rn") === 1, col(s"_cur_$c")).otherwise(lag(col(c), 1).over(wOrd))
    val changed = attrs.map(c => !(col(c) <=> prevAttr(c))).reduce(_ || _)
    // window expressions materialize as columns (filters can't hold
    // them). _nties counts same-(key, ts) rows BEFORE the no-op filter:
    // two DISTINCT values at one ts are ambiguous even when one of them
    // no-ops against the current row — and at least one row of such a
    // group always survives the filter (two distinct values cannot both
    // equal their predecessors), so the guard below is guaranteed to
    // evaluate.
    val wTie = Window.partitionBy(col(key), col("_ts"))
    val joined = u.join(cur, Seq(key), "left")
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_nties", count(lit(1)).over(wTie))
      .withColumn("_keep", (col("_rn") === 1 && isNew) || changed)

    // Guards as assert-filters: assert_true returns null (row passes)
    // or throws with the message — evaluated at EXECUTION, keeping the
    // merge a single action. Only batches that would actually write
    // ambiguously are refused: exact-duplicate replays and out-of-order
    // no-ops are harmless.
    // LAZY localCheckpoint (no eager job — the merge stays ONE action):
    // `eff` feeds three union branches below (opened, and toClose's two
    // consumers), and without staging the whole update-side
    // join + double-window + assert pipeline re-executed once per
    // branch (q115 plan audit: 32 Window operators / 16 scans; one
    // evaluation after staging). The frame is batch-sized by the
    // operator's premise (nightly updates vs big history), so the
    // persist footprint is the small side. First action materializes
    // it; callers release blocks through the result (Lineage.release).
    val eff = joined.where(col("_keep"))
      .where(assert_true(col("_nties") === 1,
        concat(lit("conflicting updates at one timestamp for key "),
          col(key).cast("string"),
          lit(" — change order within the batch is undefined"))).isNull)
      .where(assert_true(isNew || col("_ts") >= col("_cur_from"),
        concat(lit("update ts "), col("_ts").cast("string"),
          lit(" precedes the open row's valid_from "),
          col("_cur_from").cast("string"), lit(" for key "),
          col(key).cast("string"),
          lit(" — would write an inverted validity interval"))).isNull)
      .localCheckpoint(false)

    // versions to open: each effective change, closed by the NEXT
    // effective change's ts (null for the last — the open row)
    val opened = eff
      .withColumn("_vt", lead(col("_ts"), 1).over(wOrd))
      .select((Seq(col(key)) ++ attrs.map(col) :+ col("_ts").as("valid_from") :+
        col("_vt").as("valid_to")): _*)
    // current rows to close: keys with ≥1 effective change, closed at
    // the chain's first ts
    val toClose = eff.where(!isNew)
      .groupBy(col(key)).agg(min(col("_ts")).as("_close_ts"))
      .select(col(key).as("_k"), col("_close_ts"))
    val closedNow = current.join(toClose, col(key) === col("_k"), "inner")
      .select((Seq(col(key)) ++ attrs.map(col) :+ col("valid_from") :+
        col("_close_ts").as("valid_to")): _*)
    // current rows NOT closed (unchanged or untouched) ride through
    val stillCurrent = current.join(toClose, col(key) === col("_k"), "left_anti")

    closedHistory.select(histCols: _*)
      .unionByName(stillCurrent.select(histCols: _*))
      .unionByName(closedNow)
      .unionByName(opened)
  }

  /** Point-in-time lookup: the dimension row valid AT `at` per key —
    * valid_from <= at < valid_to (null valid_to = open).
    */
  def asOf(history: DataFrame, at: Column): DataFrame =
    history.where(col("valid_from") <= at &&
      (col("valid_to").isNull || col("valid_to") > at))
}
