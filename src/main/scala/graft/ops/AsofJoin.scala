package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the most recent right row with
  * right.ts <= left.ts on the same key. Spark SQL has no ASOF JOIN
  * operator; the naive formulation (range join + row_number) is a
  * quadratic non-equi join. This is the Spark-first composition
  * (SURVEY.md §3 preference (a)): tag both sides, union, one keyed
  * window ordered by (ts, tag) carrying the last non-null right payload
  * forward — a single hash shuffle + sort, linear in input size, the
  * same shape a native as-of merge does at 100 TB.
  *
  * Tie rule: at equal timestamps the right row sorts first (tag 0 < 1),
  * so an exactly-simultaneous right row IS visible to the left row —
  * matching DuckDB's `ASOF JOIN ... ON l.ts >= r.ts` (the oracle).
  */
object AsofJoin {

  /** @param left      rows to annotate
    * @param right     reference series — keep-last deduped on (key, ts)
    *                  by `tieBreak` descending (pass the arrival-order
    *                  column for reference-upsert semantics; None falls
    *                  back to dropDuplicates, single-row but arbitrary).
    *                  Rows with a NULL key or ts are dropped from the
    *                  right side: SQL ASOF equality never matches NULL,
    *                  but a keyed window WOULD group left NULL keys with
    *                  right NULL keys without this filter.
    * @param key       equality key column name (present on both sides)
    * @param ts        event-time column name (present on both sides)
    * @param payload   right-side columns to carry (renamed asof_<name>)
    * @param tieBreak  right-side arrival-order column for keep-last
    * @param direction "backward" (default): most recent right row at or
    *                  before left.ts — or "forward": earliest right row
    *                  at or after it (pandas merge_asof's direction).
    *                  Same single-shuffle union+window plan either way;
    *                  only the window's sort order flips.
    * @param tolerance optional max |left.ts - right.ts| as an interval
    *                  literal (e.g. "2 days"): matches further away are
    *                  nulled, mirroring merge_asof's tolerance. Applied
    *                  after the carry — no extra shuffle.
    */
  def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
           payload: Seq[String], tieBreak: Option[String] = None,
           direction: String = "backward",
           tolerance: Option[String] = None): DataFrame = {
    require(direction == "backward" || direction == "forward", direction)
    val leftCols = left.columns.toSeq
    val rBase = right.filter(col(key).isNotNull && col(ts).isNotNull)
    val rDeduped = tieBreak match {
      case Some(tb) =>
        val dw = Window.partitionBy(col(key), col(ts)).orderBy(col(tb).desc)
        rBase.withColumn("__rn", row_number().over(dw))
          .filter(col("__rn") === 1).drop("__rn")
      case None => rBase.dropDuplicates(key, ts)
    }
    // Each transformation below is ONE select: a withColumn/foldLeft
    // chain re-runs the analyzer once per column on a growing plan,
    // which made this operator's CONSTRUCTION cost ~100 ms steady-state
    // (5× the per-query norm — the build split of graft.Explain). The
    // produced logical plan is expression-identical; only the number of
    // analysis passes changes.
    // align schemas: left gets null payload slots, right gets null left-only slots
    val lAligned = left.select(
      leftCols.map(col) ++ (lit(1).as("__tag") +:
        payload.map(c => lit(null).cast(left.schema(c).dataType).as(s"__p_$c"))): _*)
    val rAligned = rDeduped.select(
      leftCols.map(c =>
        if (c == key || c == ts) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++
        (lit(0).as("__tag") +: payload.map(c => col(c).as(s"__p_$c"))): _*)
    val unioned = lAligned.unionByName(rAligned)
    // backward scans time ascending carrying the last right row seen;
    // forward scans descending carrying the NEXT right row back. In
    // both orders __tag asc puts the right row first at equal ts, so an
    // exactly-simultaneous reference row is visible to the left row.
    val tsOrder = if (direction == "backward") col(ts).asc else col(ts).desc
    val w = Window.partitionBy(col(key))
      .orderBy(tsOrder, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.select(
      (leftCols.map(col) :+ col("__tag")) ++
        payload.map(c =>
          last(col(s"__p_$c"), ignoreNulls = true).over(w).as(s"asof_$c")) :+
        last(when(col("__tag") === 0, col(ts)), ignoreNulls = true).over(w)
          .as(s"asof_$ts"): _*)
    val withinTol = tolerance match {
      case None => lit(true)
      case Some(t) =>
        val iv = expr(s"interval $t")
        if (direction == "backward") col(s"asof_$ts") >= col(ts) - iv
        else col(s"asof_$ts") <= col(ts) + iv
    }
    carried
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++
        (when(withinTol, col(s"asof_$ts")).as(s"asof_$ts") +:
          payload.map(c => when(withinTol, col(s"asof_$c")).as(s"asof_$c"))): _*)
  }

  /** Driver-facing instance: each purchase annotated with the user's
    * most recent signup value at-or-before the purchase time.
    */
  def purchaseSignupAsof(events: DataFrame): DataFrame =
    asof(
      events.filter(col("event_type") === "purchase"),
      events.filter(col("event_type") === "signup"),
      key = "user_id", ts = "ts", payload = Seq("value"),
      tieBreak = Some("event_id"))
      .orderBy(col("event_id"))

  /** Forward variant: each purchase annotated with the user's NEXT
    * signup value at-or-after the purchase time (merge_asof
    * direction="forward").
    */
  def purchaseSignupAsofForward(events: DataFrame): DataFrame =
    asof(
      events.filter(col("event_type") === "purchase"),
      events.filter(col("event_type") === "signup"),
      key = "user_id", ts = "ts", payload = Seq("value"),
      tieBreak = Some("event_id"), direction = "forward")
      .orderBy(col("event_id"))

  /** Tolerance variant: the backward match only counts if the signup is
    * within `tol` of the purchase (merge_asof tolerance) — stale
    * reference rows null out instead of silently matching.
    */
  def purchaseSignupAsofTolerance(events: DataFrame,
                                  tol: String = "2 days"): DataFrame =
    asof(
      events.filter(col("event_type") === "purchase"),
      events.filter(col("event_type") === "signup"),
      key = "user_id", ts = "ts", payload = Seq("value"),
      tieBreak = Some("event_id"), tolerance = Some(tol))
      .orderBy(col("event_id"))
}
