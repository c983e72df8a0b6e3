package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Barriers

/** Barrier-simulation operator coverage (SURVEY.md §2.9 B1/B3/B5/B6 +
  * the gen200 metrics aggregate). Signals are every 25th bar of the
  * events-derived OHLC series (deterministic, oracle-expressible); entry is
  * next-bar open (B5); forward arrays are the AP-14 window form's arrays,
  * built for signal rows only.
  *
  * The DuckDB oracle replays the identical array arithmetic with list
  * functions — including the 0-not-found guards, SL-wins-ties rule and
  * gap-down fills — so exit classification parity is checked trade by trade.
  */
object BarrierQueries {

  type Q = (SparkSession, String) => DataFrame

  private val K = 35 // forward window length; >= max max_bars

  /** Grid rounding via the SAME double arithmetic in both engines:
    * floor(x·10⁶ + 0.5)/10⁶. Spark's `round` is decimal-exact (BigDecimal
    * HALF_UP) while DuckDB's rounds the scaled double — per-trade PRICES are
    * products of short decimals that land exactly on .5 boundaries at 1e-6
    * (seen at sf0.1), where the two conventions split. An identical explicit
    * formula makes the doubles bit-equal by construction. */
  private[queries] def grid6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 1e6 + 0.5) / 1e6
  private[queries] def grid6Sql(x: String): String = s"(floor($x * 1e6 + 0.5) / 1e6)"

  private def signalsWithArrays(spark: SparkSession, d: String): DataFrame = {
    // Formation: every 25th bar (deterministic stand-in for P5 predicates);
    // entry at next bar open with P3-style validity guards. Forward arrays
    // are collected ONLY for signal rows (AUDIT #3), in one streaming pass
    // per series, not for every bar; see EventBars.signalForwardArrays.
    EventBars.signalForwardArrays(EventBars.bars(spark, d), col("rn") % 25 === 0, K)
      .withColumn("entry_price", try_element_at(col("fwd_opens"), lit(1)))
      .filter(col("entry_price").isNotNull && col("entry_price") > 0)
  }

  /** Shared oracle prefix: bars + fwd + signal selection + entry. */
  private def duckSignalsCte: String =
    s"""${EventBars.duckCte},
       |${EventBars.duckFwdCte(K)},
       |signals AS (
       |  SELECT *, fwd_opens[1] AS entry_price
       |  FROM fwd
       |  WHERE rn % 25 = 0 AND fwd_opens[1] IS NOT NULL AND fwd_opens[1] > 0)""".stripMargin

  // ---------------------------------------------------------------------------
  // q18 — triple-barrier per-trade outcomes (B1/B6; ref
  // sql/gen200_triple_barrier.sql:199-266, gen720:234-250 per-trade mode).
  def q18TripleBarrier(spark: SparkSession, d: String): DataFrame = {
    val sig = signalsWithArrays(spark, d)
      .withColumn("tp_pct", lit(0.01))
      .withColumn("sl_pct", lit(0.005))
      .withColumn("max_bars", lit(20))
    Barriers.tripleBarrier(sig)
      .select(col("event_type"), col("event_id"),
        grid6(col("entry_price")).as("entry_price"),
        col("exit_type"), col("exit_bar"),
        grid6(col("exit_price")).as("exit_price"),
        grid6(col("return_pct")).as("return_pct"))
      .orderBy(col("event_type"), col("event_id"))
  }

  val q18Sql: String = {
    val scan =
      """scan AS (
        |  SELECT event_type, event_id, entry_price,
        |    entry_price * (1.0 + 0.01) AS tp_price,
        |    entry_price * (1.0 - 0.005) AS sl_price,
        |    least(len(fwd_highs), 20) AS window_bars,
        |    coalesce(list_position(list_transform(list_slice(fwd_highs, 1, 20),
        |      x -> x >= entry_price * (1.0 + 0.01)), true), 0) AS raw_tp_bar,
        |    coalesce(list_position(list_transform(list_slice(fwd_lows, 1, 20),
        |      x -> x <= entry_price * (1.0 - 0.005)), true), 0) AS raw_sl_bar,
        |    fwd_opens, fwd_closes
        |  FROM signals)""".stripMargin
    val outcome =
      """outcome AS (
        |  SELECT event_type, event_id, entry_price,
        |    CASE
        |      WHEN raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar) THEN 'SL'
        |      WHEN raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar) THEN 'TP'
        |      WHEN window_bars >= 20 THEN 'TIME'
        |      ELSE 'INCOMPLETE' END AS exit_type,
        |    CASE
        |      WHEN raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar) THEN raw_sl_bar
        |      WHEN raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar) THEN raw_tp_bar
        |      WHEN window_bars >= 20 THEN 20
        |      ELSE 0 END AS exit_bar,
        |    CASE
        |      WHEN raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar)
        |        THEN least(fwd_opens[raw_sl_bar], sl_price)
        |      WHEN raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar)
        |        THEN tp_price
        |      WHEN window_bars >= 20 THEN fwd_closes[20]
        |      ELSE 0 END AS exit_price
        |  FROM scan)""".stripMargin
    s"""$duckSignalsCte,
       |$scan,
       |$outcome
       |SELECT event_type, event_id, ${grid6Sql("entry_price")} AS entry_price,
       |  exit_type, CAST(exit_bar AS BIGINT) AS exit_bar,
       |  ${grid6Sql("exit_price")} AS exit_price,
       |  ${grid6Sql("((exit_price - entry_price) / entry_price)")} AS return_pct
       |FROM outcome WHERE exit_type != 'INCOMPLETE'
       |ORDER BY event_type, event_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q19 — barrier-grid fan-out + per-combo metrics (J4 grid × B1 scan ×
  // gen200 final aggregate :268-306). The grid is a broadcast literal; one
  // shared forward-array frame serves every combo — the key scale win over
  // the reference's per-config full rescans (SURVEY §3.1).
  def q19BarrierGridMetrics(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val grid = Seq(
      (4.0, 2.0, 10), (4.0, 2.0, 30), (400.0, 200.0, 10), (400.0, 200.0, 30),
      (4.0, 200.0, 30), (400.0, 2.0, 30))
      .toDF("tp_mult", "sl_mult", "max_bars")
    val sig = signalsWithArrays(spark, d)
      .crossJoin(broadcast(grid))
      .withColumn("tp_pct", col("tp_mult") * 0.0025)
      .withColumn("sl_pct", col("sl_mult") * 0.0025)
    val trades = Barriers.tripleBarrier(sig)
    Barriers.metricsAgg(trades, col("tp_mult"), col("sl_mult"), col("max_bars"))
      .select(col("tp_mult"), col("sl_mult"), col("max_bars"),
        col("total_signals"), col("tp_count"), col("sl_count"), col("time_count"),
        round(col("win_rate"), 6).as("win_rate"),
        round(col("profit_factor"), 6).as("profit_factor"),
        round(col("avg_win_pct"), 6).as("avg_win_pct"),
        round(col("avg_loss_pct"), 6).as("avg_loss_pct"),
        round(col("expected_value_pct"), 6).as("expected_value_pct"),
        round(col("avg_bars_held"), 6).as("avg_bars_held"),
        round(col("kelly_fraction"), 6).as("kelly_fraction"))
      .orderBy(col("tp_mult"), col("sl_mult"), col("max_bars"))
  }

  val q19Sql: String = {
    val ret = "((exit_price - entry_price) / entry_price)"
    val isWin = s"(exit_type = 'TP' OR (exit_type = 'TIME' AND exit_price > entry_price))"
    val isLoss = s"(exit_type = 'SL' OR (exit_type = 'TIME' AND exit_price <= entry_price))"
    val winRate = "(CAST(count(*) FILTER (WHERE exit_type = 'TP') AS DOUBLE) / nullif(CAST(count(*) AS DOUBLE), 0.0))"
    val avgWin = s"(avg($ret) FILTER (WHERE $isWin))"
    val avgLoss = s"(avg($ret) FILTER (WHERE $isLoss))"
    val rr = s"($avgWin / nullif(abs($avgLoss), 0.0))"
    s"""$duckSignalsCte,
       |grid AS (
       |  SELECT g.tp_mult, g.sl_mult, g.max_bars,
       |         g.tp_mult * 0.0025 AS tp_pct, g.sl_mult * 0.0025 AS sl_pct
       |  FROM (VALUES (4.0, 2.0, 10), (4.0, 2.0, 30), (400.0, 200.0, 10),
       |               (400.0, 200.0, 30), (4.0, 200.0, 30), (400.0, 2.0, 30))
       |       g(tp_mult, sl_mult, max_bars)),
       |scan AS (
       |  SELECT s.event_type, s.event_id, s.entry_price,
       |    g.tp_mult, g.sl_mult, g.max_bars,
       |    s.entry_price * (1.0 + g.tp_pct) AS tp_price,
       |    s.entry_price * (1.0 - g.sl_pct) AS sl_price,
       |    least(len(s.fwd_highs), g.max_bars) AS window_bars,
       |    coalesce(list_position(list_transform(list_slice(s.fwd_highs, 1, g.max_bars),
       |      x -> x >= s.entry_price * (1.0 + g.tp_pct)), true), 0) AS raw_tp_bar,
       |    coalesce(list_position(list_transform(list_slice(s.fwd_lows, 1, g.max_bars),
       |      x -> x <= s.entry_price * (1.0 - g.sl_pct)), true), 0) AS raw_sl_bar,
       |    s.fwd_opens, s.fwd_closes
       |  FROM signals s CROSS JOIN grid g),
       |outcome AS (
       |  SELECT *,
       |    CASE
       |      WHEN raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar) THEN 'SL'
       |      WHEN raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar) THEN 'TP'
       |      WHEN window_bars >= max_bars THEN 'TIME'
       |      ELSE 'INCOMPLETE' END AS exit_type,
       |    CASE
       |      WHEN raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar) THEN raw_sl_bar
       |      WHEN raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar) THEN raw_tp_bar
       |      WHEN window_bars >= max_bars THEN max_bars
       |      ELSE 0 END AS exit_bar,
       |    CASE
       |      WHEN raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar)
       |        THEN least(fwd_opens[raw_sl_bar], sl_price)
       |      WHEN raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar)
       |        THEN tp_price
       |      WHEN window_bars >= max_bars THEN fwd_closes[max_bars]
       |      ELSE 0 END AS exit_price
       |  FROM scan),
       |trades AS (SELECT * FROM outcome WHERE exit_type != 'INCOMPLETE')
       |SELECT tp_mult, sl_mult, max_bars,
       |  count(*) AS total_signals,
       |  count(*) FILTER (WHERE exit_type = 'TP') AS tp_count,
       |  count(*) FILTER (WHERE exit_type IN ('SL', 'TRAIL')) AS sl_count,
       |  count(*) FILTER (WHERE exit_type = 'TIME') AS time_count,
       |  round($winRate, 6) AS win_rate,
       |  round(sum($ret) FILTER (WHERE $isWin)
       |    / nullif(abs(sum($ret) FILTER (WHERE $isLoss)), 0.0), 6) AS profit_factor,
       |  round($avgWin, 6) AS avg_win_pct,
       |  round($avgLoss, 6) AS avg_loss_pct,
       |  round(avg($ret), 6) AS expected_value_pct,
       |  round(avg(exit_bar), 6) AS avg_bars_held,
       |  round($winRate - (1.0 - $winRate) / nullif($rr, 0.0), 6) AS kelly_fraction
       |FROM trades
       |GROUP BY tp_mult, sl_mult, max_bars
       |ORDER BY tp_mult, sl_mult, max_bars""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q20 — trailing-stop per-trade outcomes (B3; ref
  // sql/gen201_trailing_stop.sql:144-246: running max seeded with entry,
  // per-bar trailing SL, dual-array first-index, trailing wins ties).
  def q20TrailingStop(spark: SparkSession, d: String): DataFrame = {
    val sig = signalsWithArrays(spark, d)
      .withColumn("tp_pct", lit(0.02))
      .withColumn("trail_pct", lit(0.01))
      .withColumn("max_bars", lit(15))
    Barriers.trailingStop(sig)
      .select(col("event_type"), col("event_id"),
        grid6(col("entry_price")).as("entry_price"),
        col("exit_type"), col("exit_bar"),
        grid6(col("exit_price")).as("exit_price"),
        grid6(col("return_pct")).as("return_pct"))
      .orderBy(col("event_type"), col("event_id"))
  }

  val q20Sql: String = {
    s"""$duckSignalsCte,
       |trail AS (
       |  SELECT *,
       |    entry_price * (1.0 + 0.02) AS tp_price,
       |    list_transform(generate_series(1, len(fwd_highs)),
       |      i -> (1.0 - 0.01) * greatest(entry_price,
       |             list_aggregate(list_slice(fwd_highs, 1, i), 'max'))) AS trailing_sls
       |  FROM signals),
       |scan AS (
       |  SELECT event_type, event_id, entry_price, tp_price, trailing_sls,
       |    fwd_opens, fwd_closes,
       |    least(len(fwd_highs), 15) AS window_bars,
       |    coalesce(list_position(list_transform(list_slice(fwd_highs, 1, 15),
       |      x -> x >= tp_price), true), 0) AS raw_tp_bar,
       |    coalesce(list_position(list_transform(
       |      generate_series(1, len(list_slice(fwd_lows, 1, 15))),
       |      i -> fwd_lows[i] <= trailing_sls[i]), true), 0) AS raw_trail_bar
       |  FROM trail),
       |outcome AS (
       |  SELECT event_type, event_id, entry_price,
       |    CASE
       |      WHEN raw_trail_bar > 0 AND (raw_tp_bar = 0 OR raw_trail_bar <= raw_tp_bar) THEN 'TRAIL'
       |      WHEN raw_tp_bar > 0 AND (raw_trail_bar = 0 OR raw_tp_bar < raw_trail_bar) THEN 'TP'
       |      WHEN window_bars >= 15 THEN 'TIME'
       |      ELSE 'INCOMPLETE' END AS exit_type,
       |    CASE
       |      WHEN raw_trail_bar > 0 AND (raw_tp_bar = 0 OR raw_trail_bar <= raw_tp_bar) THEN raw_trail_bar
       |      WHEN raw_tp_bar > 0 AND (raw_trail_bar = 0 OR raw_tp_bar < raw_trail_bar) THEN raw_tp_bar
       |      WHEN window_bars >= 15 THEN 15
       |      ELSE 0 END AS exit_bar,
       |    CASE
       |      WHEN raw_trail_bar > 0 AND (raw_tp_bar = 0 OR raw_trail_bar <= raw_tp_bar)
       |        THEN least(fwd_opens[raw_trail_bar], trailing_sls[raw_trail_bar])
       |      WHEN raw_tp_bar > 0 AND (raw_trail_bar = 0 OR raw_tp_bar < raw_trail_bar)
       |        THEN tp_price
       |      WHEN window_bars >= 15 THEN fwd_closes[15]
       |      ELSE 0 END AS exit_price
       |  FROM scan)
       |SELECT event_type, event_id, ${grid6Sql("entry_price")} AS entry_price,
       |  exit_type, CAST(exit_bar AS BIGINT) AS exit_bar,
       |  ${grid6Sql("exit_price")} AS exit_price,
       |  ${grid6Sql("((exit_price - entry_price) / entry_price)")} AS return_pct
       |FROM outcome WHERE exit_type != 'INCOMPLETE'
       |ORDER BY event_type, event_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q31 — two-segment (time-decay) SL per-trade outcomes (B2; ref
  // sql/gen720_wf_2down_template.sql:155-232): wide SL bars 1..5, tight SL
  // bars 6..25, seg2 index offset, effective-SL-price gap fill.
  def q31TwoSegmentSl(spark: SparkSession, d: String): DataFrame = {
    val sig = signalsWithArrays(spark, d)
      .withColumn("tp_pct", lit(0.012))
      .withColumn("sl_wide_pct", lit(0.01))
      .withColumn("sl_tight_pct", lit(0.004))
      .withColumn("phase1_bars", lit(5))
      .withColumn("max_bars", lit(25))
    Barriers.twoSegmentSl(sig)
      .select(col("event_type"), col("event_id"),
        grid6(col("entry_price")).as("entry_price"),
        col("exit_type"), col("exit_bar"),
        grid6(col("exit_price")).as("exit_price"),
        grid6(col("return_pct")).as("return_pct"))
      .orderBy(col("event_type"), col("event_id"))
  }

  val q31Sql: String = {
    val slWins = "raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar)"
    val tpWins = "raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar)"
    s"""$duckSignalsCte,
       |scan AS (
       |  SELECT event_type, event_id, entry_price,
       |    entry_price * (1.0 + 0.012) AS tp_price,
       |    entry_price * (1.0 - 0.01) AS sl_wide_price,
       |    entry_price * (1.0 - 0.004) AS sl_tight_price,
       |    least(len(fwd_highs), 25) AS window_bars,
       |    coalesce(list_position(list_transform(list_slice(fwd_highs, 1, 25),
       |      x -> x >= entry_price * (1.0 + 0.012)), true), 0) AS raw_tp_bar,
       |    coalesce(list_position(list_transform(list_slice(fwd_lows, 1, 5),
       |      x -> x <= entry_price * (1.0 - 0.01)), true), 0) AS seg1,
       |    coalesce(list_position(list_transform(list_slice(fwd_lows, 6, 25),
       |      x -> x <= entry_price * (1.0 - 0.004)), true), 0) AS seg2_local,
       |    fwd_opens, fwd_closes
       |  FROM signals),
       |sl AS (
       |  SELECT *,
       |    CASE WHEN seg1 > 0 THEN seg1
       |         WHEN seg2_local > 0 THEN seg2_local + 5 ELSE 0 END AS raw_sl_bar,
       |    CASE WHEN seg1 > 0 THEN sl_wide_price ELSE sl_tight_price END AS sl_price_eff
       |  FROM scan),
       |outcome AS (
       |  SELECT event_type, event_id, entry_price,
       |    CASE WHEN $slWins THEN 'SL' WHEN $tpWins THEN 'TP'
       |         WHEN window_bars >= 25 THEN 'TIME' ELSE 'INCOMPLETE' END AS exit_type,
       |    CASE WHEN $slWins THEN raw_sl_bar WHEN $tpWins THEN raw_tp_bar
       |         WHEN window_bars >= 25 THEN 25 ELSE 0 END AS exit_bar,
       |    CASE WHEN $slWins THEN least(fwd_opens[raw_sl_bar], sl_price_eff)
       |         WHEN $tpWins THEN tp_price
       |         WHEN window_bars >= 25 THEN fwd_closes[25] ELSE 0 END AS exit_price
       |  FROM sl)
       |SELECT event_type, event_id, ${grid6Sql("entry_price")} AS entry_price,
       |  exit_type, CAST(exit_bar AS BIGINT) AS exit_bar,
       |  ${grid6Sql("exit_price")} AS exit_price,
       |  ${grid6Sql("((exit_price - entry_price) / entry_price)")} AS return_pct
       |FROM outcome WHERE exit_type != 'INCOMPLETE'
       |ORDER BY event_type, event_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q32 — combined fixed-SL + trailing + TP per-trade outcomes (B4; ref
  // sql/gen202_combined_barrier.sql:144-157): earliest of the three exits,
  // stops win ties with TP, fixed SL wins a tie with the trailing stop.
  def q32CombinedBarrier(spark: SparkSession, d: String): DataFrame = {
    val sig = signalsWithArrays(spark, d)
      .withColumn("tp_pct", lit(0.015))
      .withColumn("sl_pct", lit(0.008))
      .withColumn("trail_pct", lit(0.01))
      .withColumn("max_bars", lit(20))
    Barriers.combinedBarrier(sig)
      .select(col("event_type"), col("event_id"),
        grid6(col("entry_price")).as("entry_price"),
        col("exit_type"), col("exit_bar"),
        grid6(col("exit_price")).as("exit_price"),
        grid6(col("return_pct")).as("return_pct"))
      .orderBy(col("event_type"), col("event_id"))
  }

  val q32Sql: String = {
    val fixedWins = "raw_sl_bar > 0 AND (raw_trail_bar = 0 OR raw_sl_bar <= raw_trail_bar)"
    val stopWins = "stop_bar > 0 AND (raw_tp_bar = 0 OR stop_bar <= raw_tp_bar)"
    val tpWins = "raw_tp_bar > 0 AND (stop_bar = 0 OR raw_tp_bar < stop_bar)"
    s"""$duckSignalsCte,
       |trail AS (
       |  SELECT *,
       |    entry_price * (1.0 + 0.015) AS tp_price,
       |    entry_price * (1.0 - 0.008) AS sl_price,
       |    list_transform(generate_series(1, len(fwd_highs)),
       |      i -> (1.0 - 0.01) * greatest(entry_price,
       |             list_aggregate(list_slice(fwd_highs, 1, i), 'max'))) AS trailing_sls
       |  FROM signals),
       |scan AS (
       |  SELECT event_type, event_id, entry_price, tp_price, sl_price,
       |    trailing_sls, fwd_opens, fwd_closes,
       |    least(len(fwd_highs), 20) AS window_bars,
       |    coalesce(list_position(list_transform(list_slice(fwd_highs, 1, 20),
       |      x -> x >= tp_price), true), 0) AS raw_tp_bar,
       |    coalesce(list_position(list_transform(list_slice(fwd_lows, 1, 20),
       |      x -> x <= sl_price), true), 0) AS raw_sl_bar,
       |    coalesce(list_position(list_transform(
       |      generate_series(1, len(list_slice(fwd_lows, 1, 20))),
       |      i -> fwd_lows[i] <= trailing_sls[i]), true), 0) AS raw_trail_bar
       |  FROM trail),
       |stop AS (
       |  SELECT *,
       |    CASE WHEN $fixedWins THEN raw_sl_bar ELSE raw_trail_bar END AS stop_bar,
       |    CASE WHEN $fixedWins THEN 'SL' ELSE 'TRAIL' END AS stop_type,
       |    CASE WHEN $fixedWins THEN sl_price
       |         ELSE trailing_sls[CASE WHEN raw_trail_bar > 0 THEN raw_trail_bar ELSE 1 END]
       |    END AS stop_price
       |  FROM scan),
       |outcome AS (
       |  SELECT event_type, event_id, entry_price,
       |    CASE WHEN $stopWins THEN stop_type WHEN $tpWins THEN 'TP'
       |         WHEN window_bars >= 20 THEN 'TIME' ELSE 'INCOMPLETE' END AS exit_type,
       |    CASE WHEN $stopWins THEN stop_bar WHEN $tpWins THEN raw_tp_bar
       |         WHEN window_bars >= 20 THEN 20 ELSE 0 END AS exit_bar,
       |    CASE WHEN $stopWins THEN least(fwd_opens[stop_bar], stop_price)
       |         WHEN $tpWins THEN tp_price
       |         WHEN window_bars >= 20 THEN fwd_closes[20] ELSE 0 END AS exit_price
       |  FROM stop)
       |SELECT event_type, event_id, ${grid6Sql("entry_price")} AS entry_price,
       |  exit_type, CAST(exit_bar AS BIGINT) AS exit_bar,
       |  ${grid6Sql("exit_price")} AS exit_price,
       |  ${grid6Sql("((exit_price - entry_price) / entry_price)")} AS return_pct
       |FROM outcome WHERE exit_type != 'INCOMPLETE'
       |ORDER BY event_type, event_id""".stripMargin
  }

  val all: Map[String, Q] = Map(
    "q18_triple_barrier" -> (q18TripleBarrier _),
    "q19_barrier_grid_metrics" -> (q19BarrierGridMetrics _),
    "q20_trailing_stop" -> (q20TrailingStop _),
    "q31_two_segment_sl" -> (q31TwoSegmentSl _),
    "q32_combined_barrier" -> (q32CombinedBarrier _))

  val oracles: Map[String, String] = Map(
    "q18_triple_barrier" -> q18Sql,
    "q19_barrier_grid_metrics" -> q19Sql,
    "q20_trailing_stop" -> q20Sql,
    "q31_two_segment_sl" -> q31Sql,
    "q32_combined_barrier" -> q32Sql)
}
