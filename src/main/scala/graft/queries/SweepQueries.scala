package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Barriers, BarFrame, Formations, Laguerre}

/** The gen600-style sweep (SURVEY.md §3.1, the reference's main entry
  * point): formations × barrier profiles × per-combo metrics — in ONE
  * Spark job over ONE shared signal/forward-array frame.
  *
  * The reference instantiates 300,960 SQL files and re-scans the bars
  * table once per config (§3.1 step 1-2; 66,960 rescans of the same
  * series). Here the scan+window work happens once: formation flags are
  * computed per bar, forward arrays are collected only for rows that fire
  * ANY formation (streaming replay), the barrier grid is a broadcast literal,
  * and the barrier scan + metrics aggregate fan out columnar — the
  * structural win that makes the sweep latency independent of the number
  * of configs (up to the grid's aggregate cost).
  */
object SweepQueries {

  type Q = (SparkSession, String) => DataFrame

  private val K = 35

  // formations swept (subset of the registry that needs no quantile gate —
  // the gated ones join the sweep exactly the same way, at the cost of a
  // longer oracle; coverage of the gated path is q41)
  private val sweepFormations = Seq(
    "2down_ng" -> "(dir_1 = 0 AND dir_0 = 0)",
    "dud" -> "(dir_2 = 0 AND dir_1 = 1 AND dir_0 = 0)",
    "duu_s" -> "(dir_2 = 0 AND dir_1 = 1 AND dir_0 = 1)")

  private val grid = Seq( // (profile, tp_pct, sl_pct, max_bars)
    ("inverted", 0.005, 0.01, 20),
    ("symmetric", 0.0075, 0.0075, 20),
    ("momentum", 0.01, 0.005, 30))

  // ---------------------------------------------------------------------------
  // q43 — full sweep: per (formation, barrier_profile) the gen200 metrics
  // block over triple-barrier outcomes of next-bar-open entries.
  def q43FormationBarrierSweep(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = BarFrame.series(Seq(col("event_type")), col("ts_us"), col("event_id"))
    val flagged = EventBars.bars(spark, d)
      .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
      .withColumn("dir_2", lag(col("dir_0"), 2).over(w))
    val anySignal = col("rn") > 100 && sweepFormations.map { case (_, p) => expr(p) }
      .reduce(_ || _)
    val sig = EventBars.entryFiltered(
      EventBars.signalForwardArrays(flagged, anySignal, K))
    val stackExpr = sweepFormations.map { case (name, p) =>
      s"'$name', CASE WHEN $p THEN 1 ELSE 0 END"
    }.mkString(s"stack(${sweepFormations.size}, ", ", ", ") as (formation, flag)")
    val gridDf = grid.toDF("barrier_profile", "tp_pct", "sl_pct", "max_bars")
    // scan BEFORE the formation stack: the barrier outcome is independent
    // of which formation(s) tagged the signal, so the array scan runs once
    // per (signal × profile) instead of once per (signal × formation ×
    // profile), and the stack explodes narrow outcome rows (Catalyst
    // prunes the forward arrays above the Generate, so they never ride
    // through the explode)
    val scanned = Barriers.tripleBarrier(sig.crossJoin(broadcast(gridDf)))
      // explicit narrow projection: only the stack inputs + metric columns
      // ride through the explode (not left to optimizer pruning)
      .select(col("dir_0"), col("dir_1"), col("dir_2"), col("barrier_profile"),
        col("entry_price"), col("exit_type"), col("exit_bar"), col("exit_price"))
    val trades = scanned
      .select(col("*"), expr(stackExpr))
      .filter(col("flag") === 1)
    Barriers.metricsAgg(trades, col("formation"), col("barrier_profile"))
      .select(col("formation"), col("barrier_profile"),
        col("total_signals"), col("tp_count"), col("sl_count"), col("time_count"),
        (round(col("win_rate"), 6) + 0.0).as("win_rate"),
        (round(col("profit_factor"), 6) + 0.0).as("profit_factor"),
        (round(col("expected_value_pct"), 6) + 0.0).as("expected_value_pct"),
        (round(col("avg_bars_held"), 6) + 0.0).as("avg_bars_held"))
      .orderBy(col("formation"), col("barrier_profile"))
  }

  // shared oracle idioms for the sweep family (q43, q51)
  private val slWins = "raw_sl_bar > 0 AND (raw_tp_bar = 0 OR raw_sl_bar <= raw_tp_bar)"
  private val tpWins = "raw_tp_bar > 0 AND (raw_sl_bar = 0 OR raw_tp_bar < raw_sl_bar)"
  private val retSql = "((exit_price - entry_price) / entry_price)"
  private val isWinSql = "(exit_type = 'TP' OR (exit_type = 'TIME' AND exit_price > entry_price))"
  private val isLossSql = "(exit_type = 'SL' OR (exit_type = 'TIME' AND exit_price <= entry_price))"
  private val winRateSql = "(CAST(count(*) FILTER (WHERE exit_type = 'TP') AS DOUBLE) / nullif(CAST(count(*) AS DOUBLE), 0.0))"

  /** bars → dirs → fwd arrays → signals → formation tag → grid → barrier
    * scan → completed `trades` (the whole q43 chain up to the final
    * aggregation; `trades` carries event_type for per-asset rollups). */
  private val sweepTradesCte: String = {
    val formationBlocks = sweepFormations.map { case (name, p) =>
      s"SELECT '$name' AS formation, * FROM signals WHERE $p"
    }.mkString("\n  UNION ALL\n  ")
    val gridValues = grid.map { case (n, tp, sl, mb) => s"('$n', $tp, $sl, $mb)" }
      .mkString(", ")
    s"""${EventBars.duckCte},
       |dirs AS (
       |  SELECT *,
       |    CASE WHEN close > open THEN 1 ELSE 0 END AS dir_0,
       |    lag(CASE WHEN close > open THEN 1 ELSE 0 END, 1) OVER w AS dir_1,
       |    lag(CASE WHEN close > open THEN 1 ELSE 0 END, 2) OVER w AS dir_2
       |  FROM bars
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
       |${EventBars.duckFwdCte(K).replace("FROM bars", "FROM dirs")},
       |signals AS (
       |  SELECT *, fwd_opens[1] AS entry_price
       |  FROM fwd
       |  WHERE rn > 100 AND fwd_opens[1] IS NOT NULL AND fwd_opens[1] > 0),
       |tagged AS (
       |  $formationBlocks),
       |grid AS (
       |  SELECT * FROM (VALUES $gridValues)
       |    g(barrier_profile, tp_pct, sl_pct, max_bars)),
       |scan AS (
       |  SELECT t.formation, t.event_type, g.barrier_profile, t.entry_price, g.max_bars,
       |    t.entry_price * (1.0 + g.tp_pct) AS tp_price,
       |    t.entry_price * (1.0 - g.sl_pct) AS sl_price,
       |    least(len(t.fwd_highs), g.max_bars) AS window_bars,
       |    coalesce(list_position(list_transform(list_slice(t.fwd_highs, 1, g.max_bars),
       |      x -> x >= t.entry_price * (1.0 + g.tp_pct)), true), 0) AS raw_tp_bar,
       |    coalesce(list_position(list_transform(list_slice(t.fwd_lows, 1, g.max_bars),
       |      x -> x <= t.entry_price * (1.0 - g.sl_pct)), true), 0) AS raw_sl_bar,
       |    t.fwd_opens, t.fwd_closes
       |  FROM tagged t CROSS JOIN grid g),
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
       |trades AS (SELECT * FROM outcome WHERE exit_type != 'INCOMPLETE')""".stripMargin
  }

  val q43Sql: String =
    s"""$sweepTradesCte
       |SELECT formation, barrier_profile,
       |  count(*) AS total_signals,
       |  count(*) FILTER (WHERE exit_type = 'TP') AS tp_count,
       |  count(*) FILTER (WHERE exit_type IN ('SL', 'TRAIL')) AS sl_count,
       |  count(*) FILTER (WHERE exit_type = 'TIME') AS time_count,
       |  round($winRateSql, 6) + 0.0 AS win_rate,
       |  round(sum($retSql) FILTER (WHERE $isWinSql)
       |    / nullif(abs(sum($retSql) FILTER (WHERE $isLossSql)), 0.0), 6) + 0.0 AS profit_factor,
       |  round(avg($retSql), 6) + 0.0 AS expected_value_pct,
       |  round(avg(exit_bar), 6) + 0.0 AS avg_bars_held
       |FROM trades
       |GROUP BY formation, barrier_profile
       |ORDER BY formation, barrier_profile""".stripMargin

  // ---------------------------------------------------------------------------
  // q47 — E30: the gen800 regime-gated sweep (scripts/gen800_sweep.py:31-60):
  // Laguerre regime labels join the bar frame as a GATE dimension —
  // (formation × regime_gate × barrier_profile) metrics from one shared
  // signal frame. Regime gates (gen800_sweep.py REGIME_GATES):
  // bullish_only (regime = 2), not_bearish (regime ≥ 1), any_regime.
  //
  // The Laguerre recursion is sequential per series (flatMapGroups); the
  // DuckDB oracle replays it as a WITH RECURSIVE over (L0..L3 + running
  // sums) — see laguerreRecCte below, bit-exact vs the Scala loop.
  // SweepSpec additionally pins (a) the any_regime slice row-for-row
  // against oracle-checked q43 and (b) gate monotonicity + a census
  // cross-check against an independent Scala recomputation.
  private val regimeGates = Seq(
    "any_regime" -> "true",
    "bullish_only" -> "(regime = 2)",
    "not_bearish" -> "(regime >= 1)")

  def q47RegimeGatedSweep(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = BarFrame.series(Seq(col("event_type")), col("ts_us"), col("event_id"))
    // join-free regime attachment: one exchange feeds the recursion AND
    // the direction windows (no 3-column equi-join shuffle of the bars)
    val flagged = Laguerre.attachRegimes(EventBars.bars(spark, d)).drop("rsi")
      .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
      .withColumn("dir_2", lag(col("dir_0"), 2).over(w))
    val anySignal = col("rn") > 100 && sweepFormations.map { case (_, p) => expr(p) }
      .reduce(_ || _)
    val sig = EventBars.entryFiltered(
      EventBars.signalForwardArrays(flagged, anySignal, K))
    val formationStack = sweepFormations.map { case (name, p) =>
      s"'$name', CASE WHEN $p THEN 1 ELSE 0 END"
    }.mkString(s"stack(${sweepFormations.size}, ", ", ", ") as (formation, flag)")
    val gateStack = regimeGates.map { case (name, p) =>
      s"'$name', CASE WHEN $p THEN 1 ELSE 0 END"
    }.mkString(s"stack(${regimeGates.size}, ", ", ", ") as (regime_gate, gate_flag)")
    val gridDf = grid.toDF("barrier_profile", "tp_pct", "sl_pct", "max_bars")
    // same scan-before-stack shape as q43: outcomes are formation/gate
    // independent, so the two stacks explode narrow post-scan rows
    val scanned = Barriers.tripleBarrier(sig.crossJoin(broadcast(gridDf)))
      .select(col("dir_0"), col("dir_1"), col("dir_2"), col("regime"),
        col("barrier_profile"), col("entry_price"), col("exit_type"),
        col("exit_bar"), col("exit_price"))
    val trades = scanned
      .select(col("*"), expr(formationStack)).filter(col("flag") === 1)
      .select(col("*"), expr(gateStack)).filter(col("gate_flag") === 1)
    Barriers.metricsAgg(trades, col("formation"), col("regime_gate"), col("barrier_profile"))
      .select(col("formation"), col("regime_gate"), col("barrier_profile"),
        col("total_signals"), col("tp_count"), col("sl_count"), col("time_count"),
        (round(col("win_rate"), 6) + 0.0).as("win_rate"),
        (round(col("profit_factor"), 6) + 0.0).as("profit_factor"),
        (round(col("expected_value_pct"), 6) + 0.0).as("expected_value_pct"),
        (round(col("avg_bars_held"), 6) + 0.0).as("avg_bars_held"))
      .orderBy(col("formation"), col("regime_gate"), col("barrier_profile"))
  }

  // ---------------------------------------------------------------------------
  // q51 — cross-asset consistency rollup (eval/cross_asset.py:65-134, the
  // xa_* inputs of the E15 ranking): run the sweep keyed by asset
  // (event_type here), then per (formation, profile) aggregate across
  // assets: n_positive = assets with finite PF > 1, avg_pf over tested
  // assets, total signals over ALL assets, consistency = n_positive /
  // n_assets (fraction of ALL assets, tested or not). A NULL profit
  // factor (no losing trades ≈ the reference's non-finite PF) counts as
  // not-tested, exactly the reference's isfinite gate.
  def q51CrossAsset(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = BarFrame.series(Seq(col("event_type")), col("ts_us"), col("event_id"))
    val flagged = EventBars.bars(spark, d)
      .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
      .withColumn("dir_2", lag(col("dir_0"), 2).over(w))
    val anySignal = col("rn") > 100 && sweepFormations.map { case (_, p) => expr(p) }
      .reduce(_ || _)
    val sig = EventBars.entryFiltered(
      EventBars.signalForwardArrays(flagged, anySignal, K))
    val stackExpr = sweepFormations.map { case (name, p) =>
      s"'$name', CASE WHEN $p THEN 1 ELSE 0 END"
    }.mkString(s"stack(${sweepFormations.size}, ", ", ", ") as (formation, flag)")
    val gridDf = grid.toDF("barrier_profile", "tp_pct", "sl_pct", "max_bars")
    // scan-before-stack (see q43): outcome is formation-independent
    val trades = Barriers.tripleBarrier(sig.crossJoin(broadcast(gridDf)))
      .select(col("dir_0"), col("dir_1"), col("dir_2"), col("event_type"),
        col("barrier_profile"), col("entry_price"), col("exit_type"),
        col("exit_bar"), col("exit_price"))
      .select(col("*"), expr(stackExpr)).filter(col("flag") === 1)
    // per-asset PF rounded to the same 1e-6 grid as the oracle BEFORE the
    // rollup, so the >1.0 gate and the average see identical doubles
    val perAsset = Barriers.metricsAgg(trades,
      col("formation"), col("barrier_profile"), col("event_type"))
      .withColumn("profit_factor", round(col("profit_factor"), 6) + 0.0)
    // count assets from the (persisted) flagged frame, not a fourth
    // scan+window stack over the raw events parquet
    val nAssets = flagged
      .agg(count_distinct(col("event_type")).as("n_assets"))
    perAsset.groupBy(col("formation"), col("barrier_profile"))
      .agg(
        count_if(col("profit_factor").isNotNull && col("profit_factor") > 1.0)
          .as("xa_n_positive"),
        (round(avg(col("profit_factor")), 6) + 0.0).as("xa_avg_pf"),
        sum(col("total_signals")).as("xa_total_signals"))
      .crossJoin(broadcast(nAssets))
      .withColumn("xa_consistency",
        round(col("xa_n_positive").cast("double") / col("n_assets"), 6) + 0.0)
      .drop("n_assets")
      .orderBy(col("formation"), col("barrier_profile"))
  }

  val q51Sql: String =
    s"""$sweepTradesCte,
       |per_asset AS (
       |  SELECT formation, barrier_profile, event_type,
       |    count(*) AS total_signals,
       |    round(sum($retSql) FILTER (WHERE $isWinSql)
       |      / nullif(abs(sum($retSql) FILTER (WHERE $isLossSql)), 0.0), 6) + 0.0
       |      AS profit_factor
       |  FROM trades
       |  GROUP BY formation, barrier_profile, event_type)
       |SELECT formation, barrier_profile,
       |  count(*) FILTER (WHERE profit_factor IS NOT NULL AND profit_factor > 1.0)
       |    AS xa_n_positive,
       |  round(avg(profit_factor), 6) + 0.0 AS xa_avg_pf,
       |  CAST(sum(total_signals) AS BIGINT) AS xa_total_signals,
       |  round(CAST(count(*) FILTER (WHERE profit_factor IS NOT NULL
       |      AND profit_factor > 1.0) AS DOUBLE)
       |    / (SELECT count(DISTINCT event_type) FROM bars), 6) + 0.0 AS xa_consistency
       |FROM per_asset
       |GROUP BY formation, barrier_profile
       |ORDER BY formation, barrier_profile""".stripMargin

  // ---------------------------------------------------------------------------
  // q47 oracle — a DuckDB WITH RECURSIVE replay of the Laguerre RSI
  // recursion (operators/Laguerre.scala:33-93), bit-exact against the Scala
  // loop (validated per-bar at sf0.01: 9995/9995 rsi values identical).
  //
  // Parity strategy: the Scala filter keeps RUNNING-SUM accumulators
  // (trSum for ATR, s for the SMA smoother) whose float residue differs
  // from a fresh windowed sum — so the oracle carries the same
  // accumulators in the recursion state and updates them in the same
  // operation order: (prev + cur) - old, never a window re-sum. The
  // trailing-32 ATR min/max window rides along as a list (min/max are
  // order-insensitive, hence exact); likewise the trailing-5 raw-RSI list
  // feeds the smoother's subtraction term. All series advance in lockstep,
  // one recursive iteration per bar index; `lt` is MATERIALIZED so the
  // window precompute runs once, not once per iteration.
  private val laguerreRecCte: String =
    """lt AS MATERIALIZED (
      |  SELECT event_type, ts_us, event_id, open, high, low, close, rn,
      |    row_number() OVER lw AS li,
      |    CASE WHEN lag(close) OVER lw IS NULL THEN high - low
      |         ELSE greatest(high, lag(close) OVER lw) - least(low, lag(close) OVER lw)
      |    END AS tr
      |  FROM bars
      |  WINDOW lw AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
      |seed AS (
      |  SELECT event_type, 0 AS li,
      |    CAST(0.0 AS DOUBLE) AS tr_sum, CAST([] AS DOUBLE[]) AS atrs,
      |    first(close ORDER BY li) AS l0, first(close ORDER BY li) AS l1,
      |    first(close ORDER BY li) AS l2, first(close ORDER BY li) AS l3,
      |    CAST(0.0 AS DOUBLE) AS s_sum, CAST([] AS DOUBLE[]) AS raws,
      |    CAST(NULL AS DOUBLE) AS rsi
      |  FROM lt GROUP BY event_type),
      |rec AS (
      |  SELECT * FROM seed
      |  UNION ALL
      |  SELECT event_type, li, n_tr_sum, n_atrs, n_l0, n_l1, n_l2, n_l3,
      |    n_s_sum, n_raws, n_rsi
      |  FROM (
      |    SELECT cur.event_type AS event_type, cur.li AS li,
      |      prev.tr_sum + cur.tr - coalesce(old.tr, 0.0) AS n_tr_sum,
      |      n_tr_sum / least(cur.li, 32) AS atr,
      |      list_append(CASE WHEN len(prev.atrs) >= 32 THEN prev.atrs[2:]
      |        ELSE prev.atrs END, atr) AS n_atrs,
      |      list_min(n_atrs) AS mn, list_max(n_atrs) AS mx,
      |      CASE WHEN mx > mn THEN (atr - mn) / (mx - mn) ELSE 0.5 END AS ratio,
      |      1.0 - (2.0 / 33.0) * (0.75 + (1.0 - 0.75) * ratio) AS g,
      |      (1.0 - g) * cur.close + g * prev.l0 AS n_l0,
      |      -g * n_l0 + prev.l0 + g * prev.l1 AS n_l1,
      |      -g * n_l1 + prev.l1 + g * prev.l2 AS n_l2,
      |      -g * n_l2 + prev.l2 + g * prev.l3 AS n_l3,
      |      (CASE WHEN n_l0 >= n_l1 THEN n_l0 - n_l1 ELSE 0.0 END)
      |        + (CASE WHEN n_l1 >= n_l2 THEN n_l1 - n_l2 ELSE 0.0 END)
      |        + (CASE WHEN n_l2 >= n_l3 THEN n_l2 - n_l3 ELSE 0.0 END) AS cu,
      |      (CASE WHEN n_l0 >= n_l1 THEN 0.0 ELSE n_l1 - n_l0 END)
      |        + (CASE WHEN n_l1 >= n_l2 THEN 0.0 ELSE n_l2 - n_l1 END)
      |        + (CASE WHEN n_l2 >= n_l3 THEN 0.0 ELSE n_l3 - n_l2 END) AS cd,
      |      CASE WHEN cu + cd > 0.0
      |           THEN least(1.0, greatest(0.0, cu / (cu + cd))) ELSE 0.0 END AS raw,
      |      prev.s_sum + raw
      |        - coalesce(CASE WHEN cur.li >= 6 THEN prev.raws[1] END, 0.0) AS n_s_sum,
      |      list_append(CASE WHEN len(prev.raws) >= 5 THEN prev.raws[2:]
      |        ELSE prev.raws END, raw) AS n_raws,
      |      least(1.0, greatest(0.0, n_s_sum / least(cur.li, 5))) AS n_rsi
      |    FROM rec prev
      |    JOIN lt cur ON cur.event_type = prev.event_type AND cur.li = prev.li + 1
      |    LEFT JOIN lt old ON old.event_type = prev.event_type AND old.li = prev.li - 31
      |  )),
      |rbars AS (
      |  SELECT l.event_type, l.ts_us, l.event_id, l.open, l.high, l.low,
      |    l.close, l.rn,
      |    CASE WHEN r.rsi < 0.15 THEN 0 WHEN r.rsi > 0.85 THEN 2 ELSE 1 END
      |      AS regime
      |  FROM rec r
      |  JOIN lt l ON l.event_type = r.event_type AND l.li = r.li)""".stripMargin

  /** The q47 oracle TAIL (dirs → sweep → metrics) over any prefix CTE
    * block that defines `bars` and `rbars` (bar columns + regime) — shared
    * by the recursive form ([[q47Sql]]) and the precomputed form
    * ([[q47SqlPrecomputed]]) so the two can never drift. */
  private def q47SqlFrom(prefixCtes: String): String = {
    val formationBlocks = sweepFormations.map { case (name, p) =>
      s"SELECT '$name' AS formation, * FROM signals WHERE $p"
    }.mkString("\n  UNION ALL\n  ")
    val gateBlocks = regimeGates.map { case (name, p) =>
      s"SELECT '$name' AS regime_gate, * FROM tagged WHERE $p"
    }.mkString("\n  UNION ALL\n  ")
    val gridValues = grid.map { case (n, tp, sl, mb) => s"('$n', $tp, $sl, $mb)" }
      .mkString(", ")
    s"""$prefixCtes,
       |dirs AS (
       |  SELECT *,
       |    CASE WHEN close > open THEN 1 ELSE 0 END AS dir_0,
       |    lag(CASE WHEN close > open THEN 1 ELSE 0 END, 1) OVER dw AS dir_1,
       |    lag(CASE WHEN close > open THEN 1 ELSE 0 END, 2) OVER dw AS dir_2
       |  FROM rbars
       |  WINDOW dw AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
       |${EventBars.duckFwdCte(K).replace("FROM bars", "FROM dirs")},
       |signals AS (
       |  SELECT *, fwd_opens[1] AS entry_price
       |  FROM fwd
       |  WHERE rn > 100 AND fwd_opens[1] IS NOT NULL AND fwd_opens[1] > 0),
       |tagged AS (
       |  $formationBlocks),
       |gated AS (
       |  $gateBlocks),
       |grid AS (
       |  SELECT * FROM (VALUES $gridValues)
       |    g(barrier_profile, tp_pct, sl_pct, max_bars)),
       |scan AS (
       |  SELECT t.formation, t.regime_gate, g.barrier_profile, t.entry_price,
       |    g.max_bars,
       |    t.entry_price * (1.0 + g.tp_pct) AS tp_price,
       |    t.entry_price * (1.0 - g.sl_pct) AS sl_price,
       |    least(len(t.fwd_highs), g.max_bars) AS window_bars,
       |    coalesce(list_position(list_transform(list_slice(t.fwd_highs, 1, g.max_bars),
       |      x -> x >= t.entry_price * (1.0 + g.tp_pct)), true), 0) AS raw_tp_bar,
       |    coalesce(list_position(list_transform(list_slice(t.fwd_lows, 1, g.max_bars),
       |      x -> x <= t.entry_price * (1.0 - g.sl_pct)), true), 0) AS raw_sl_bar,
       |    t.fwd_opens, t.fwd_closes
       |  FROM gated t CROSS JOIN grid g),
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
       |SELECT formation, regime_gate, barrier_profile,
       |  count(*) AS total_signals,
       |  count(*) FILTER (WHERE exit_type = 'TP') AS tp_count,
       |  count(*) FILTER (WHERE exit_type IN ('SL', 'TRAIL')) AS sl_count,
       |  count(*) FILTER (WHERE exit_type = 'TIME') AS time_count,
       |  round($winRateSql, 6) + 0.0 AS win_rate,
       |  round(sum($retSql) FILTER (WHERE $isWinSql)
       |    / nullif(abs(sum($retSql) FILTER (WHERE $isLossSql)), 0.0), 6) + 0.0 AS profit_factor,
       |  round(avg($retSql), 6) + 0.0 AS expected_value_pct,
       |  round(avg(exit_bar), 6) + 0.0 AS avg_bars_held
       |FROM trades
       |GROUP BY formation, regime_gate, barrier_profile
       |ORDER BY formation, regime_gate, barrier_profile""".stripMargin
  }

  val q47Sql: String = q47SqlFrom(
    s"""${EventBars.duckCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$laguerreRecCte""".stripMargin)

  // ---------------------------------------------------------------------------
  // q47 PRECOMPUTED oracle — the sf0.1-TERMINATING form. The recursive-CTE
  // oracle above is exact but runs one recursive iteration per bar index
  // with a join against `lt` each — it does not terminate in practical
  // time at sf0.1 (~100k bars/series), which was the single skipped cell
  // in the round-close gates through r12. The terminating restatement:
  // the Laguerre rsi/regime series is computed ITERATIVELY outside SQL
  // (tools/laguerre_proto.py scala_rsi — the Python transliteration of
  // operators/Laguerre.rsi, validated bit-exact against both the Scala
  // loop and the recursive SQL at sf0.01) into a registered
  // lag_regime(event_type, ts_us, event_id, regime) relation, and the
  // oracle consumes that in place of the recursion; the whole sweep tail
  // is byte-identical (q47SqlFrom). Ships via oracle_prereq.json (Verify)
  // for tools/compare.py; the driver's own sf0.01 gate keeps the
  // self-contained recursive form in oracle_sql.json.

  /** Input the iterative prereq consumes: the bar series, ordered exactly
    * as the per-series loop walks it. */
  val q47PrereqInputSql: String =
    s"""${EventBars.duckCte}
       |SELECT event_type, ts_us, event_id, high, low, close
       |FROM bars ORDER BY event_type, ts_us, event_id""".stripMargin

  /** q47 with the recursion replaced by a join against the materialized
    * lag_regime relation. */
  val q47SqlPrecomputed: String = q47SqlFrom(
    s"""${EventBars.duckCte},
       |rbars AS (
       |  SELECT b.event_type, b.ts_us, b.event_id, b.open, b.high, b.low,
       |    b.close, b.rn, lr.regime
       |  FROM bars b JOIN lag_regime lr USING (event_type, ts_us, event_id))""".stripMargin)

  val all: Map[String, Q] = Map(
    "q43_formation_barrier_sweep" -> (q43FormationBarrierSweep _),
    "q47_regime_gated_sweep" -> (q47RegimeGatedSweep _),
    "q51_cross_asset" -> (q51CrossAsset _))

  val oracles: Map[String, String] = Map(
    "q43_formation_barrier_sweep" -> q43Sql,
    "q47_regime_gated_sweep" -> q47Sql,
    "q51_cross_asset" -> q51Sql)
}
