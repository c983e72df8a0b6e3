package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{firstTouch, runningMaxSeeded}

/** Simulation layer (SURVEY.md §7.0 L2): triple-barrier / trailing-stop
  * scans as pure array-expression pipelines over forward-array columns.
  *
  * Everything here is whole-stage-codegen-friendly Column expressions — no
  * UDFs, no higher-order-function lambdas (Spark evaluates `transform` /
  * `zip_with` interpreted; every first-touch scan is the codegen'd
  * [[graft.functions.FirstTouch]] kernel), no shuffles: the scan is
  * embarrassingly row-parallel after the
  * forward arrays are attached (one window shuffle, shared by every barrier
  * combo via the grid cross join). This is the Spark restatement of
  * sql/gen200_triple_barrier.sql:190-266 (AUDIT #1 explicit price columns,
  * AUDIT #2 0-not-found guards, AUDIT #7 slice-before-scan) and
  * sql/gen201_trailing_stop.sql:144-246.
  *
  * Required input columns: entry_price, fwd_highs, fwd_lows, fwd_opens,
  * fwd_closes (1-based forward arrays, bar 1 = first bar after signal) and
  * the barrier parameters tp_pct / sl_pct (or trail_pct) / max_bars.
  */
object Barriers {

  /** max_bars under the barrier contract is >= 1; a 0 (degenerate sweep
    * config) classifies every row as TIME and then reads forward bar 0 —
    * an ANSI INVALID_INDEX_OF_ZERO with no hint WHICH config is broken.
    * Evaluated lazily inside the TIME branch, so valid rows never pay it
    * and fixture plans/hashes are unchanged (r13 review). */
  private def guardedMaxBars: Column =
    when(col("max_bars") >= 1, col("max_bars"))
      .otherwise(raise_error(concat(
        lit("barrier scan requires max_bars >= 1, got "),
        col("max_bars").cast("string"))))

  /** Attach raw_tp_bar / raw_sl_bar / window_bars / tp_price / sl_price. */
  def withTripleBarrierScan(df: DataFrame): DataFrame = {
    val entry = col("entry_price")
    df
      .withColumn("tp_price", entry * (lit(1.0) + col("tp_pct")))
      .withColumn("sl_price", entry * (lit(1.0) - col("sl_pct")))
      .withColumn("window_bars",
        least(size(col("fwd_highs")).cast("long"), col("max_bars").cast("long")))
      .withColumn("raw_tp_bar",
        firstTouch(col("fwd_highs"), col("max_bars"), col("tp_price"), above = true))
      .withColumn("raw_sl_bar",
        firstTouch(col("fwd_lows"), col("max_bars"), col("sl_price"), above = false))
  }

  /** Exit classification on a scanned frame: exit_type / exit_bar /
    * exit_price / return_pct. INCOMPLETE rows are dropped (the reference
    * filters them before aggregation). */
  def withTripleBarrierOutcome(df: DataFrame): DataFrame = {
    val tp = col("raw_tp_bar"); val sl = col("raw_sl_bar")
    val slWins = sl > 0 && (tp === 0 || sl <= tp)   // AP-12: SL wins ties
    val tpWins = tp > 0 && (sl === 0 || tp < sl)
    val timeExit = col("window_bars") >= col("max_bars")
    df
      .withColumn("exit_type",
        when(slWins, "SL").when(tpWins, "TP")
          .when(timeExit, "TIME").otherwise("INCOMPLETE"))
      .withColumn("exit_bar",
        when(slWins, sl).when(tpWins, tp)
          .when(timeExit, col("max_bars").cast("long")).otherwise(lit(0L)))
      .withColumn("exit_price",
        when(slWins, // AP-13: gap-down fill
          least(element_at(col("fwd_opens"), sl.cast("int")), col("sl_price")))
          .when(tpWins, col("tp_price")) // limit fill
          .when(timeExit, element_at(col("fwd_closes"), guardedMaxBars.cast("int")))
          .otherwise(lit(0.0)))
      .filter(col("exit_type") =!= "INCOMPLETE")
      .withColumn("return_pct",
        (col("exit_price") - col("entry_price")) / col("entry_price"))
  }

  def tripleBarrier(df: DataFrame): DataFrame =
    withTripleBarrierOutcome(withTripleBarrierScan(df))

  /** Trailing-stop scan (gen201): per-bar running max seeded with entry,
    * trailing SL per bar, dual-array first-index, trailing SL wins ties. */
  def trailingStop(df: DataFrame): DataFrame = {
    val entry = col("entry_price")
    val scanned = df
      .withColumn("tp_price", entry * (lit(1.0) + col("tp_pct")))
      .withColumn("trailing_sls", // O(n) seeded prefix-max scan times
        // (1 - trail_pct) (vs the O(n²) slice+array_max chain; max is
        // order-independent, so values are bit-identical — pinned by spec)
        runningMaxSeeded(col("fwd_highs"), entry, lit(1.0) - col("trail_pct")))
      .withColumn("window_bars",
        least(size(col("fwd_highs")).cast("long"), col("max_bars").cast("long")))
      .withColumn("raw_tp_bar",
        firstTouch(col("fwd_highs"), col("max_bars"), col("tp_price"), above = true))
      .withColumn("raw_trail_bar", // per-bar stop: low[i] <= trailing_sls[i]
        firstTouch(col("fwd_lows"), col("max_bars"), col("trailing_sls"), above = false))
    val tp = col("raw_tp_bar"); val tr = col("raw_trail_bar")
    val trWins = tr > 0 && (tp === 0 || tr <= tp)   // trailing SL wins ties
    val tpWins = tp > 0 && (tr === 0 || tp < tr)
    val timeExit = col("window_bars") >= col("max_bars")
    scanned
      .withColumn("exit_type",
        when(trWins, "TRAIL").when(tpWins, "TP")
          .when(timeExit, "TIME").otherwise("INCOMPLETE"))
      .withColumn("exit_bar",
        when(trWins, tr).when(tpWins, tp)
          .when(timeExit, col("max_bars").cast("long")).otherwise(lit(0L)))
      .withColumn("exit_price",
        when(trWins, least(
          element_at(col("fwd_opens"), tr.cast("int")),
          element_at(col("trailing_sls"), tr.cast("int"))))
          .when(tpWins, col("tp_price"))
          .when(timeExit, element_at(col("fwd_closes"), guardedMaxBars.cast("int")))
          .otherwise(lit(0.0)))
      .filter(col("exit_type") =!= "INCOMPLETE")
      .withColumn("return_pct",
        (col("exit_price") - col("entry_price")) / col("entry_price"))
  }

  /** Two-segment (time-decay) SL scan (gen720_wf_2down_template.sql:155-232):
    * wide SL during bars 1..phase1_bars, tight SL after; the tight-SL scan
    * starts at bar phase1_bars+1 (a first-touch scan offset by
    * phase1_bars, so its index is already a forward-bar number). The
    * effective SL price feeds the AP-13 gap fill. Requires columns: tp_pct,
    * sl_wide_pct, sl_tight_pct, phase1_bars, max_bars.
    */
  def twoSegmentSl(df: DataFrame): DataFrame = {
    val entry = col("entry_price")
    // negative phase1_bars was the SILENT failure mode of the slice form
    // (a negative slice start scans from the END of the forward array);
    // the kernel refuses a negative offset, but without naming the
    // config column (r13 review) — raise readably instead
    val p1 = when(col("phase1_bars") >= 0, col("phase1_bars"))
      .otherwise(raise_error(concat(
        lit("two-segment SL requires phase1_bars >= 0, got "),
        col("phase1_bars").cast("string")))).cast("int")
    val scanned = df
      .withColumn("tp_price", entry * (lit(1.0) + col("tp_pct")))
      .withColumn("sl_wide_price", entry * (lit(1.0) - col("sl_wide_pct")))
      .withColumn("sl_tight_price", entry * (lit(1.0) - col("sl_tight_pct")))
      .withColumn("window_bars",
        least(size(col("fwd_highs")).cast("long"), col("max_bars").cast("long")))
      .withColumn("raw_tp_bar",
        firstTouch(col("fwd_highs"), col("max_bars"), col("tp_price"), above = true))
      .withColumn("raw_sl_seg1",
        firstTouch(col("fwd_lows"), least(p1, col("max_bars").cast("int")),
          col("sl_wide_price"), above = false))
      .withColumn("raw_sl_seg2", // bars p1+1 .. max_bars, indexed from bar 1
        firstTouch(col("fwd_lows"), greatest(col("max_bars").cast("int") - p1, lit(0)),
          col("sl_tight_price"), above = false, offset = p1))
      .withColumn("raw_sl_bar",
        when(col("raw_sl_seg1") > 0, col("raw_sl_seg1")).otherwise(col("raw_sl_seg2")))
      .withColumn("sl_price_eff",
        when(col("raw_sl_seg1") > 0, col("sl_wide_price"))
          .otherwise(col("sl_tight_price")))
    val tp = col("raw_tp_bar"); val sl = col("raw_sl_bar")
    val slWins = sl > 0 && (tp === 0 || sl <= tp) // AP-12
    val tpWins = tp > 0 && (sl === 0 || tp < sl)
    val timeExit = col("window_bars") >= col("max_bars")
    scanned
      .withColumn("exit_type",
        when(slWins, "SL").when(tpWins, "TP")
          .when(timeExit, "TIME").otherwise("INCOMPLETE"))
      .withColumn("exit_bar",
        when(slWins, sl).when(tpWins, tp)
          .when(timeExit, col("max_bars").cast("long")).otherwise(lit(0L)))
      .withColumn("exit_price",
        when(slWins, // AP-13 gap fill at the effective (segment) SL price
          least(element_at(col("fwd_opens"), sl.cast("int")), col("sl_price_eff")))
          .when(tpWins, col("tp_price"))
          .when(timeExit, element_at(col("fwd_closes"), guardedMaxBars.cast("int")))
          .otherwise(lit(0.0)))
      .filter(col("exit_type") =!= "INCOMPLETE")
      .withColumn("return_pct",
        (col("exit_price") - col("entry_price")) / col("entry_price"))
  }

  /** Combined fixed-SL + trailing stop + TP (gen202_combined_barrier
    * .sql:144-157): exit at the earliest of the three; stops win ties with
    * TP (AP-12); the fixed SL wins a tie with the trailing stop. Requires
    * columns: tp_pct, sl_pct, trail_pct, max_bars.
    */
  def combinedBarrier(df: DataFrame): DataFrame = {
    val entry = col("entry_price")
    val scanned = df
      .withColumn("tp_price", entry * (lit(1.0) + col("tp_pct")))
      .withColumn("sl_price", entry * (lit(1.0) - col("sl_pct")))
      .withColumn("trailing_sls", // O(n) seeded prefix-max scan times
        // (1 - trail_pct) (vs the O(n²) slice+array_max chain; max is
        // order-independent, so values are bit-identical — pinned by spec)
        runningMaxSeeded(col("fwd_highs"), entry, lit(1.0) - col("trail_pct")))
      .withColumn("window_bars",
        least(size(col("fwd_highs")).cast("long"), col("max_bars").cast("long")))
      .withColumn("raw_tp_bar",
        firstTouch(col("fwd_highs"), col("max_bars"), col("tp_price"), above = true))
      .withColumn("raw_sl_bar",
        firstTouch(col("fwd_lows"), col("max_bars"), col("sl_price"), above = false))
      .withColumn("raw_trail_bar", // per-bar stop: low[i] <= trailing_sls[i]
        firstTouch(col("fwd_lows"), col("max_bars"), col("trailing_sls"), above = false))
    val tp = col("raw_tp_bar")
    val fixedWins = col("raw_sl_bar") > 0 &&
      (col("raw_trail_bar") === 0 || col("raw_sl_bar") <= col("raw_trail_bar"))
    val stopBar = when(fixedWins, col("raw_sl_bar")).otherwise(col("raw_trail_bar"))
    val stopType = when(fixedWins, lit("SL")).otherwise(lit("TRAIL"))
    val stopPrice = when(fixedWins, col("sl_price"))
      .otherwise(element_at(col("trailing_sls"),
        when(col("raw_trail_bar") > 0, col("raw_trail_bar")).otherwise(lit(1L)).cast("int")))
    val stopWins = stopBar > 0 && (tp === 0 || stopBar <= tp)
    val tpWins = tp > 0 && (stopBar === 0 || tp < stopBar)
    val timeExit = col("window_bars") >= col("max_bars")
    scanned
      .withColumn("exit_type",
        when(stopWins, stopType).when(tpWins, "TP")
          .when(timeExit, "TIME").otherwise("INCOMPLETE"))
      .withColumn("exit_bar",
        when(stopWins, stopBar).when(tpWins, tp)
          .when(timeExit, col("max_bars").cast("long")).otherwise(lit(0L)))
      .withColumn("exit_price",
        when(stopWins,
          least(element_at(col("fwd_opens"), stopBar.cast("int")), stopPrice))
          .when(tpWins, col("tp_price"))
          .when(timeExit, element_at(col("fwd_closes"), guardedMaxBars.cast("int")))
          .otherwise(lit(0.0)))
      .filter(col("exit_type") =!= "INCOMPLETE")
      .withColumn("return_pct",
        (col("exit_price") - col("entry_price")) / col("entry_price"))
  }

  /** Per-combo metrics aggregate (gen200 final SELECT, :268-306): win rate,
    * profit factor, avg win/loss, risk-reward, EV, avg bars held, Kelly.
    * TIME exits count as wins iff exit_price > entry_price. */
  def metricsAgg(trades: DataFrame, keys: Column*): DataFrame = {
    val ret = (col("exit_price") - col("entry_price")) / col("entry_price")
    val isWin = col("exit_type") === "TP" ||
      (col("exit_type") === "TIME" && col("exit_price") > col("entry_price"))
    val isLoss = col("exit_type") === "SL" || col("exit_type") === "TRAIL" ||
      (col("exit_type") === "TIME" && col("exit_price") <= col("entry_price"))
    val decided = col("exit_type").isin("TP", "SL", "TRAIL", "TIME")
    val winRate = count_if(col("exit_type") === "TP").cast("double") /
      nullif(count_if(decided).cast("double"), lit(0.0))
    val grossWin = sum(when(isWin, ret))
    val grossLoss = abs(sum(when(isLoss, ret)))
    val avgWin = avg(when(isWin, ret))
    val avgLoss = avg(when(isLoss, ret))
    trades.groupBy(keys: _*).agg(
      count(lit(1)).as("total_signals"),
      count_if(col("exit_type") === "TP").as("tp_count"),
      count_if(col("exit_type").isin("SL", "TRAIL")).as("sl_count"),
      count_if(col("exit_type") === "TIME").as("time_count"),
      winRate.as("win_rate"),
      (grossWin / nullif(grossLoss, lit(0.0))).as("profit_factor"),
      avgWin.as("avg_win_pct"),
      avgLoss.as("avg_loss_pct"),
      (avgWin / nullif(abs(avgLoss), lit(0.0))).as("risk_reward"),
      avg(when(decided, ret)).as("expected_value_pct"),
      avg(when(decided, col("exit_bar"))).as("avg_bars_held"),
      (winRate - (lit(1.0) - winRate) /
        nullif(avgWin / nullif(abs(avgLoss), lit(0.0)), lit(0.0))).as("kelly_fraction"))
  }
}
