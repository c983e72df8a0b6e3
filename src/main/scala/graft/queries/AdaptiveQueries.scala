package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Barriers, BarFrame}

/** W6 — rolling exclusive quantile over the POST-FORMATION-FILTER signal
  * subsequence (SURVEY.md §2.5 W6), the gen600 engine's adaptive-threshold
  * core: the CTE chain `champion_signals → feature1_with_quantile →
  * feature2_with_quantile → signals` of sql/gen600_2down_template.sql:100-139
  * (mirrored in backtest/backtesting_py/gen600_strategy.py:32-59).
  *
  * Crucially the per-feature quantile gates are computed over the rows that
  * SURVIVE the formation filter — each signal's threshold is the exclusive
  * quantile of the previous `lookback` SIGNAL rows, not the previous bars —
  * which is why this cannot be expressed by the all-bars rolling quantile
  * (q15/Formations): the window frame must slide over the filtered
  * subsequence with its ordering preserved.
  *
  * Spark shape: filter → window over the filtered frame. The windows after
  * the filter reuse the same (event_type)-partitioned sort; signal frames
  * are ~1/25 of the bars, so the second window stage is cheap. Forward
  * arrays for the barrier stage attach AFTER the final threshold filter
  * (banded join, AUDIT #3) — only surviving signals carry arrays.
  *
  * Features on the driver testdata (no microstructure columns):
  * feature1 = opposite_wick_pct (P2), feature2 = bar duration in µs —
  * both bar-level, both non-degenerate on the synthetic OHLC series.
  */
object AdaptiveQueries {

  type Q = (SparkSession, String) => DataFrame

  private val K = 35          // forward window length; >= max max_bars
  private val Warmup = 20     // reference: rn > 1000 (scaled to testdata)
  private val Lookback = 100  // reference: 999 PRECEDING (scaled)
  // Gate percentiles are template parameters in the reference
  // (__QUANTILE_PCT_{1,2}__; the ti gate is 0.95 on crypto bars whose
  // intensity distribution is two-sided). The synthetic events table is
  // one-sided — down-bars are bounded at ti<1 while up-bars reach 10³ —
  // so an all-bars p95 can never coincide with a 2-down formation; 0.50
  // exercises the identical gate semantics with live signals.
  private val TiGate = 0.50   // intensity gate percentile (ref: 0.95)
  private val Q1 = 0.40       // __QUANTILE_PCT_1__, direction: feature1 > q
  private val Q2 = 0.60       // __QUANTILE_PCT_2__, direction: feature2 < q

  import graft.operators.SeriesReplay
  import graft.operators.SeriesReplay.{RollingQ, Shift}

  /** base_bars → running_stats → signal_detection → champion_signals
    * (gen600_2down_template.sql:59-113, AP-15 current-row-is-2nd-down).
    *
    * Series ops (lag/lead + THE rolling exclusive quantile) run in one
    * [[SeriesReplay]] kernel pass — O(Lookback) state per series instead of
    * WindowExec's per-row lookback-length array materialization + sort
    * (the A5/W6 end-state; arithmetic pinned identical by SeriesReplaySpec).
    * Map-side feature projections stay declarative so they fuse into the
    * surrounding codegen stages. */
  private def championSignals(spark: SparkSession, d: String): DataFrame =
    SeriesReplay.attach(
      EventBars.bars(spark, d)
        // P4 nullIf guard on every ratio (zero-open bars at larger SFs)
        .withColumn("ti",
          abs((col("close") - col("open")) / nullif(col("open"), lit(0.0))))
        .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
        // feature1 = direction-aware opposite wick (P2, nullIf-guarded)
        .withColumn("feature1_val",
          when(col("dir_0") === 1, col("open") - col("low"))
            .otherwise(col("high") - col("open")) /
            nullif(col("high") - col("low"), lit(0.0))),
      "event_type", Seq("ts_us", "event_id"),
      quantiles = Seq(RollingQ("ti", "ti_p95_prior", TiGate, Lookback)),
      shifts = Seq(Shift("dir_0", "dir_1", -1), Shift("ts_us", "prev_ts_us", -1),
        Shift("open", "entry_price", 1)))
      // feature2 = bar duration (inter-arrival µs); first bar → NULL
      .withColumn("feature2_val",
        (col("ts_us") - col("prev_ts_us")).cast("double"))
      .drop("prev_ts_us")
      // champion formation filter (gen600_2down:100-113): 2down + intensity
      // gate + P3 warmup/validity guards
      .filter(
        col("dir_1") === 0 && col("dir_0") === 0 &&
        col("ti_p95_prior").isNotNull && col("ti_p95_prior") > 0 &&
        col("ti") > col("ti_p95_prior") &&
        col("rn") > Warmup &&
        col("entry_price").isNotNull && col("entry_price") > 0 &&
        col("feature1_val").isNotNull && col("feature2_val").isNotNull)

  /** feature{1,2}_with_quantile → signals: the W6 quantile frames slide over
    * the champion subsequence (ordering preserved — the kernel re-sorts the
    * FILTERED rows on the same series axis), then the adaptive threshold
    * filter. The signal frame is ~1/25 of the bars, so this second kernel
    * exchange is small. */
  private def adaptiveSignals(spark: SparkSession, d: String): DataFrame =
    SeriesReplay.attach(championSignals(spark, d),
      "event_type", Seq("ts_us", "event_id"),
      quantiles = Seq(
        RollingQ("feature1_val", "feature1_q", Q1, Lookback),
        RollingQ("feature2_val", "feature2_q", Q2, Lookback)))
      .filter(
        col("feature1_q").isNotNull && col("feature2_q").isNotNull &&
        col("feature1_val") > col("feature1_q") &&
        col("feature2_val") < col("feature2_q"))

  /** Shared oracle CTE chain: bars → fwd arrays → features/lags → champion
    * filter → per-subsequence quantile lists → adaptive signals. The W6
    * windows in the quantile CTEs run over the FILTERED champion rows —
    * exactly the reference's CTE-chain semantics. */
  private def duckAdaptiveCte(withArrays: Boolean): String = {
    def qexc(l: String, q: String): String =
      QuantQueries.qexcSql(l, s"len($l)", q) // one shared definition (CAST included)
    val arrayCols = if (withArrays) ", fwd_highs, fwd_lows, fwd_opens, fwd_closes" else ""
    val src = if (withArrays) "fwd" else "bars"
    val fwdCte = if (withArrays) s"${EventBars.duckFwdCte(K)}," else ""
    s"""${EventBars.duckCte},
       |$fwdCte
       |feat AS (
       |  SELECT event_type, ts_us, event_id, rn, open, high, low, close$arrayCols,
       |    abs((close - open) / nullif(open, 0)) AS ti,
       |    CASE WHEN close > open THEN 1 ELSE 0 END AS dir_0,
       |    lag(CASE WHEN close > open THEN 1 ELSE 0 END, 1) OVER w AS dir_1,
       |    CASE WHEN close > open THEN open - low ELSE high - open END
       |      / nullif(high - low, 0) AS feature1_val,
       |    (ts_us - lag(ts_us, 1) OVER w)::DOUBLE AS feature2_val,
       |    lead(open, 1) OVER w AS entry_price,
       |    list_sort(list_filter(list(abs((close - open) / nullif(open, 0))) OVER pw,
       |      x -> x IS NOT NULL)) AS lti
       |  FROM $src
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id),
       |         pw AS (PARTITION BY event_type ORDER BY ts_us, event_id
       |                ROWS BETWEEN $Lookback PRECEDING AND 1 PRECEDING)),
       |champion AS (
       |  SELECT * FROM (
       |    SELECT * EXCLUDE (lti), ${qexc("lti", TiGate.toString)} AS ti_p95_prior
       |    FROM feat)
       |  WHERE dir_1 = 0 AND dir_0 = 0
       |    AND ti_p95_prior IS NOT NULL AND ti_p95_prior > 0
       |    AND ti > ti_p95_prior
       |    AND rn > $Warmup
       |    AND entry_price IS NOT NULL AND entry_price > 0
       |    AND feature1_val IS NOT NULL AND feature2_val IS NOT NULL),
       |f1q AS (
       |  SELECT *, ${qexc("lf1", Q1.toString)} AS feature1_q
       |  FROM (
       |    SELECT *, list_sort(list_filter(list(feature1_val) OVER pw,
       |      x -> x IS NOT NULL)) AS lf1
       |    FROM champion
       |    WINDOW pw AS (PARTITION BY event_type ORDER BY ts_us, event_id
       |                  ROWS BETWEEN $Lookback PRECEDING AND 1 PRECEDING))),
       |f2q AS (
       |  SELECT *, ${qexc("lf2", Q2.toString)} AS feature2_q
       |  FROM (
       |    SELECT *, list_sort(list_filter(list(feature2_val) OVER pw,
       |      x -> x IS NOT NULL)) AS lf2
       |    FROM f1q
       |    WINDOW pw AS (PARTITION BY event_type ORDER BY ts_us, event_id
       |                  ROWS BETWEEN $Lookback PRECEDING AND 1 PRECEDING))),
       |signals AS (
       |  SELECT * EXCLUDE (lf1, lf2)
       |  FROM f2q
       |  WHERE feature1_q IS NOT NULL AND feature2_q IS NOT NULL
       |    AND feature1_val > feature1_q
       |    AND feature2_val < feature2_q)""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q45 — the W6 operator observable per signal: each surviving signal row
  // with its subsequence-quantile thresholds.
  def q45AdaptiveThresholdSignals(spark: SparkSession, d: String): DataFrame =
    adaptiveSignals(spark, d)
      .select(col("event_type"), col("event_id"), col("rn"),
        round(col("ti"), 6).as("ti"),
        round(col("ti_p95_prior"), 6).as("ti_p95_prior"),
        round(col("feature1_val"), 6).as("feature1_val"),
        round(col("feature1_q"), 6).as("feature1_q"),
        round(col("feature2_val"), 6).as("feature2_val"),
        round(col("feature2_q"), 6).as("feature2_q"),
        // §2.8 JSON emit (ref sql/gen01_single_feature.sql:73
        // feature_conditions): to_json(struct(...)) over integer
        // micro-units — engine-independent serialization by construction
        // (no float-formatting divergence)
        to_json(struct(
          floor(col("feature1_q") * 1e6 + 0.5).cast("long").as("f1_gt_u6"),
          floor(col("feature2_q") * 1e6 + 0.5).cast("long").as("f2_lt_u6")))
          .as("feature_conditions"))
      .orderBy(col("event_type"), col("rn"))

  val q45Sql: String =
    s"""${duckAdaptiveCte(withArrays = false)}
       |SELECT event_type, event_id, rn,
       |  round(ti, 6) AS ti,
       |  round(ti_p95_prior, 6) AS ti_p95_prior,
       |  round(feature1_val, 6) AS feature1_val,
       |  round(feature1_q, 6) AS feature1_q,
       |  round(feature2_val, 6) AS feature2_val,
       |  round(feature2_q, 6) AS feature2_q,
       |  '{"f1_gt_u6":' || CAST(floor(feature1_q * 1e6 + 0.5) AS BIGINT)
       |    || ',"f2_lt_u6":' || CAST(floor(feature2_q * 1e6 + 0.5) AS BIGINT)
       |    || '}' AS feature_conditions
       |FROM signals ORDER BY event_type, rn""".stripMargin

  // ---------------------------------------------------------------------------
  // q46 — the gen600-faithful END-TO-END chain: adaptive signals (W6) →
  // 3-profile barrier grid (J3, gen600_2down:150-156) → triple-barrier scan
  // (B1) → per-profile metrics block (gen600_2down:232-253). The sweep shape
  // of q43 with the champion/adaptive CTE chain in front.
  private val profiles = Seq( // (profile, tp_mult, sl_mult, max_bars); bar_range = 0.0025
    ("inverted", 2.5, 5.0, 30),
    ("symmetric", 5.0, 5.0, 20),
    ("momentum", 7.5, 2.5, 20))

  def q46Gen600Chain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sig = EventBars.forwardArraysFor(
      adaptiveSignals(spark, d), EventBars.bars(spark, d), K)
      // the signal frame is SMALL and AQE coalesces it to ~1
      // partition; the grid crossJoin below would inherit that and
      // serialize the whole barrier scan onto one core — the sibling
      // sweeps (q43/q47/q51, Sweep.run) all pin this; q46 had dropped it
      // (r13 review)
      .repartition(spark.sparkContext.defaultParallelism)
    val gridDf = profiles.toDF("barrier_profile", "tp_mult", "sl_mult", "max_bars")
    val trades = Barriers.tripleBarrier(
      sig.crossJoin(broadcast(gridDf))
        .withColumn("tp_pct", col("tp_mult") * 0.0025)
        .withColumn("sl_pct", col("sl_mult") * 0.0025))
    Barriers.metricsAgg(trades, col("barrier_profile"))
      .select(col("barrier_profile"),
        col("total_signals"), col("tp_count"), col("sl_count"), col("time_count"),
        (round(col("win_rate"), 6) + 0.0).as("win_rate"),
        (round(col("profit_factor"), 6) + 0.0).as("profit_factor"),
        (round(col("expected_value_pct"), 6) + 0.0).as("expected_value_pct"),
        (round(col("avg_bars_held"), 6) + 0.0).as("avg_bars_held"))
      .orderBy(col("barrier_profile"))
  }

  val q46Sql: String = {
    val slWins = "raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar)"
    val tpWins = "raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar)"
    val ret = "((exit_price - entry_price) / entry_price)"
    val isWin = "(exit_type = 'TP' OR (exit_type = 'TIME' AND exit_price > entry_price))"
    val isLoss = "(exit_type = 'SL' OR (exit_type = 'TIME' AND exit_price <= entry_price))"
    val winRate = "(CAST(count(*) FILTER (WHERE exit_type = 'TP') AS DOUBLE) / nullif(CAST(count(*) AS DOUBLE), 0.0))"
    val gridValues = profiles.map { case (n, tp, sl, mb) => s"('$n', $tp, $sl, $mb)" }
      .mkString(", ")
    s"""${duckAdaptiveCte(withArrays = true)},
       |grid AS (
       |  SELECT barrier_profile, tp_mult * 0.0025 AS tp_pct,
       |         sl_mult * 0.0025 AS sl_pct, max_bars
       |  FROM (VALUES $gridValues) g(barrier_profile, tp_mult, sl_mult, max_bars)),
       |scan AS (
       |  SELECT s.barrier_profile, s.entry_price, s.max_bars,
       |    s.entry_price * (1.0 + s.tp_pct) AS tp_price,
       |    s.entry_price * (1.0 - s.sl_pct) AS sl_price,
       |    least(len(s.fwd_highs), s.max_bars) AS window_bars,
       |    coalesce(list_position(list_transform(list_slice(s.fwd_highs, 1, s.max_bars),
       |      x -> x >= s.entry_price * (1.0 + s.tp_pct)), true), 0) AS raw_tp_bar,
       |    coalesce(list_position(list_transform(list_slice(s.fwd_lows, 1, s.max_bars),
       |      x -> x <= s.entry_price * (1.0 - s.sl_pct)), true), 0) AS raw_sl_bar,
       |    s.fwd_opens, s.fwd_closes
       |  FROM (SELECT sig.*, g.* FROM signals sig CROSS JOIN grid g) s),
       |outcome AS (
       |  SELECT *,
       |    CASE WHEN $slWins THEN 'SL' WHEN $tpWins THEN 'TP'
       |         WHEN window_bars >= max_bars THEN 'TIME' ELSE 'INCOMPLETE' END AS exit_type,
       |    CASE WHEN $slWins THEN raw_sl_bar WHEN $tpWins THEN raw_tp_bar
       |         WHEN window_bars >= max_bars THEN max_bars ELSE 0 END AS exit_bar,
       |    CASE WHEN $slWins THEN least(fwd_opens[raw_sl_bar], sl_price)
       |         WHEN $tpWins THEN tp_price
       |         WHEN window_bars >= max_bars THEN fwd_closes[max_bars]
       |         ELSE 0 END AS exit_price
       |  FROM scan),
       |trades AS (SELECT * FROM outcome WHERE exit_type != 'INCOMPLETE')
       |SELECT barrier_profile,
       |  count(*) AS total_signals,
       |  count(*) FILTER (WHERE exit_type = 'TP') AS tp_count,
       |  count(*) FILTER (WHERE exit_type IN ('SL', 'TRAIL')) AS sl_count,
       |  count(*) FILTER (WHERE exit_type = 'TIME') AS time_count,
       |  round($winRate, 6) + 0.0 AS win_rate,
       |  round(sum($ret) FILTER (WHERE $isWin)
       |    / nullif(abs(sum($ret) FILTER (WHERE $isLoss)), 0.0), 6) + 0.0 AS profit_factor,
       |  round(avg($ret), 6) + 0.0 AS expected_value_pct,
       |  round(avg(exit_bar), 6) + 0.0 AS avg_bars_held
       |FROM trades
       |GROUP BY barrier_profile
       |ORDER BY barrier_profile""".stripMargin
  }

  val all: Map[String, Q] = Map(
    "q45_adaptive_threshold_signals" -> (q45AdaptiveThresholdSignals _),
    "q46_gen600_chain" -> (q46Gen600Chain _))

  val oracles: Map[String, String] = Map(
    "q45_adaptive_threshold_signals" -> q45Sql,
    "q46_gen600_chain" -> q46Sql)
}
