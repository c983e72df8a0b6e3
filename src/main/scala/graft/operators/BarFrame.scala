package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Bar-frame layer (SURVEY.md §7.0 L1): ordered-series operators over a
  * partitioned time axis. Every reference window is `ORDER BY close_time_ms`
  * within one (symbol, threshold) slice; here the caller supplies the
  * partition keys so the multi-series sweep parallelizes across executors
  * (§2.5 W9) — one shuffle for the first window stage, reused by the rest.
  */
object BarFrame {

  /** Canonical ordered window for a series. */
  def series(partition: Seq[Column], order: Column*): WindowSpec =
    if (partition.isEmpty) Window.orderBy(order: _*)
    else Window.partitionBy(partition: _*).orderBy(order: _*)

  /** direction = 1 if close > open else 0 (ref sql/gen01_single_feature.sql:27). */
  def direction(open: Column, close: Column): Column =
    when(close > open, lit(1)).otherwise(lit(0))

  /** Global bar index within the series (ref W3, gen200:97 `rn`). */
  def rowIndex(w: WindowSpec): Column = row_number().over(w)

  /** Rolling no-lookahead exclusive quantile: exact exclusive quantile of
    * the previous `lookback` rows, current row excluded (ref A5/W6:
    * `quantileExactExclusive(q)(x) OVER (ROWS BETWEEN 999 PRECEDING AND
    * 1 PRECEDING)`, sql/gen600_2down_template.sql:69-72). NULL until the
    * frame has at least one non-null value.
    *
    * DECLARATIVE REFERENCE FORM — Spark's WindowExec materializes and
    * sorts a lookback-length array per output row for this frame. Two
    * incremental paths replace it (both bit-identical by construction —
    * same QuantileMultiExclusive.interpolate):
    *  - [[SeriesReplay.attach]] when the query also replays shifts/row
    *    numbers in the same per-series pass;
    *  - the Column form `GraftFunctions.exclusiveQuantileAgg(x, q)
    *    .over(w.rowsBetween(-L, -1))`, which
    *    [[graft.plans.SlidingQuantileStrategy]] plans as the streaming
    *    [[graft.plans.SlidingQuantileWindowExec]] in every engine session
    *    (ensureConfs/GraftExtensions) — 15-25× the collect_list form at
    *    L=1000, measured in SCALE.md. Only use the agg-over-sliding-frame
    *    Column in sessions with the strategy registered: under plain
    *    WindowExec it re-builds the aggregate buffer per row.
    * This collect_list form remains the equality oracle the specs pin both
    * fast paths against, and the fallback where no strategy is available.
    */
  def rollingExclusiveQuantile(x: Column, q: Double, lookback: Int, w: WindowSpec): Column =
    GraftFunctions.quantileExactExclusive(
      collect_list(x).over(w.rowsBetween(-lookback, -1)), q)

  /** Expanding no-lookahead exclusive quantile (ref A5/W5: `ROWS BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING`, sql/gen111_true_nolookahead.sql:49-52).
    *
    * Uses the incremental TypedImperativeAggregate: Spark's
    * unbounded-preceding frame processor feeds rows once, so the sorted
    * multiset grows in place — O(n) buffer work per partition instead of
    * collect+sort per row (the §4.3.1b end-state).
    */
  def expandingExclusiveQuantile(x: Column, q: Double, w: WindowSpec): Column =
    GraftFunctions.exclusiveQuantileAgg(x, q)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
}
