package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Barriers, BarFrame}
import graft.queries.{EventBars, StagingRoots}
import graft.sources.ResultSink

/** Sweep orchestrator (SURVEY.md §7.1.9 / §3.1): the replacement for the
  * reference's generate.sh → pueue → xargs → NDJSON machinery. A sweep is
  * (formations × barrier grid) over one shared, cached signal frame:
  *
  *  - the bars scan + direction windows + signals-only forward arrays are
  *    computed ONCE and cached — the reference re-scans the bars table per
  *    config (66,960× in gen600);
  *  - the config fan-out is columnar (stack + broadcast grid), so adding
  *    configs grows the aggregate, not the number of jobs;
  *  - results land in a partitioned dataset keyed by (generation,
  *    formation); re-running a generation atomically overwrites only its
  *    partitions (crash-resume without line counting / flock);
  *  - telemetry (wall time, config counts) is a JSONL sink next to the
  *    results, one line per run — the NDJSON wrapper's role.
  */
object Sweep {

  final case class BarrierCfg(profile: String, tpPct: Double, slPct: Double, maxBars: Int)

  /** One cell of a gen800-style LAGUERRE parameter grid: recursion params
    * (atrPeriod, adaptiveOffset) + regime thresholds (levelUp/levelDown).
    * Only the recursion params cost a per-series loop; thresholds fan out
    * columnar. */
  final case class LagCfg(name: String, atrPeriod: Int, adaptiveOffset: Double,
      levelUp: Double, levelDown: Double)

  final case class SweepSpec(
      generation: String,
      formations: Seq[(String, String)], // name -> SQL predicate over dir_0/1/2
      grid: Seq[BarrierCfg],
      forwardBars: Int = 35,
      warmupBars: Int = 100,
      // E30 (scripts/gen800_sweep.py:31-60): regime gates — name -> SQL
      // predicate over the joined Laguerre `regime` label (0 bearish /
      // 1 neutral / 2 bullish). The default single any-gate keeps the
      // ungated sweep shape (and skips the Laguerre join entirely).
      regimeGates: Seq[(String, String)] = Seq("any_regime" -> "true"),
      laguerre: operators.Laguerre.Config = operators.Laguerre.Config(),
      // gen800 WIDTH: a grid of Laguerre configs as a sweep axis. When
      // non-empty the single `laguerre` config is ignored; the sweep runs
      // the grid's DISTINCT recursions once per series (Laguerre
      // .attachRsis), and each trade row meets the (lagCfg × gate)
      // combinations in a broadcast fan-out join AFTER the barrier scan —
      // outcomes are regime-independent, so the scan cost never multiplies
      // by the Laguerre axis. Output gains a `lag_cfg` key column.
      laguerreGrid: Seq[LagCfg] = Seq.empty)

  /** Run a sweep and write results + telemetry under `outDir`. Returns the
    * per-(formation, regime_gate, profile) metrics frame. */
  def run(spark: SparkSession, sfDir: String, spec: SweepSpec,
      outDir: String): DataFrame = StagingRoots.owningCaches {
    // what the run persists is released when it ends, on failure too and
    // whether or not a caller owns a scope
    import spark.implicits._
    val t0 = System.nanoTime()
    val w = BarFrame.series(Seq(col("event_type")), col("ts_us"), col("event_id"))
    val bars = EventBars.bars(spark, sfDir)
    // gate dimension: join per-bar Laguerre regime labels only when a gate
    // actually reads them (any_regime-only sweeps pay nothing)
    val needRegimes = spec.regimeGates.exists(_._2.trim != "true")
    val gridMode = spec.laguerreGrid.nonEmpty
    // the Laguerre-grid axis needs only its DISTINCT recursions computed
    // per series; thresholds are columnar downstream
    val recs: Seq[(Int, Double)] =
      spec.laguerreGrid.map(c => (c.atrPeriod, c.adaptiveOffset)).distinct
    val recIdx: Map[(Int, Double), Int] = recs.zipWithIndex.toMap
    val withRegime =
      if (gridMode)
        operators.Laguerre.attachRsis(bars, recs.map { case (ap, ao) =>
          operators.Laguerre.Config(atrPeriod = ap, adaptiveOffset = ao) })
      else if (!needRegimes) bars.withColumn("regime", lit(1))
      else operators.Laguerre.attachRegimes(bars, spec.laguerre).drop("rsi")
    val flagged = withRegime
      .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
      .withColumn("dir_2", lag(col("dir_0"), 2).over(w))
    val anySignal = col("rn") > spec.warmupBars &&
      spec.formations.map { case (_, p) => expr(p) }.reduce(_ || _)
    val sig = StagingRoots.persist( // the shared frame every config reads
      EventBars.entryFiltered(EventBars.signalForwardArrays(flagged, anySignal, spec.forwardBars)))

    val stackExpr = spec.formations.map { case (name, p) =>
      s"'$name', CASE WHEN $p THEN 1 ELSE 0 END"
    }.mkString(s"stack(${spec.formations.size}, ", ", ", ") as (formation, flag)")
    val gateStack = spec.regimeGates.map { case (name, p) =>
      s"'$name', CASE WHEN $p THEN 1 ELSE 0 END"
    }.mkString(s"stack(${spec.regimeGates.size}, ", ", ", ") as (regime_gate, gate_flag)")
    val gridDf = spec.grid.map(g => (g.profile, g.tpPct, g.slPct, g.maxBars))
      .toDF("barrier_profile", "tp_pct", "sl_pct", "max_bars")
    // scan BEFORE the formation/gate stacks (the q43 lesson): the barrier
    // outcome is independent of which formation(s)/gate(s) tagged the
    // signal, so the array scan runs once per (signal × barrier config)
    // and the stacks explode narrow outcome rows — a signal firing f
    // formations costs one scan, not f
    val regimeCols =
      if (gridMode) Seq(col("rsis")) else Seq(col("regime"))
    val scanned = Barriers.tripleBarrier(sig.crossJoin(broadcast(gridDf)))
      .select(Seq(col("dir_0"), col("dir_1"), col("dir_2")) ++ regimeCols ++ Seq(
        col("barrier_profile"), col("tp_pct"), col("sl_pct"), col("max_bars"),
        col("entry_price"), col("exit_type"), col("exit_bar"), col("exit_price")): _*)
    val tagged = scanned
      .select(col("*"), expr(stackExpr)).filter(col("flag") === 1)
    val (trades, keyCols) =
      if (!gridMode) {
        (tagged.select(col("*"), expr(gateStack)).filter(col("gate_flag") === 1),
          Seq(col("formation"), col("regime_gate"), col("barrier_profile")))
      } else {
        // the Laguerre-grid fan-out: every (lagCfg × gate) combination as a
        // broadcast table joined AFTER the scan — the scan ran once per
        // (signal × barrier), and only narrow outcome rows multiply by the
        // Laguerre axis. Each fanned-out row materializes ITS config's
        // `regime` (the thresholding of its recursion's rsi) as a real
        // column, so the gate predicates apply UNMODIFIED — never a
        // textual substitution into caller-supplied SQL, which would
        // corrupt any predicate where "regime" appears inside another
        // identifier (r13 review).
        val lagGateDf = (for {
          c <- spec.laguerreGrid; (g, _) <- spec.regimeGates
        } yield (c.name, g, recIdx((c.atrPeriod, c.adaptiveOffset)) + 1,
          c.levelUp, c.levelDown))
          .toDF("lag_cfg", "regime_gate", "rec_idx", "lu", "ld")
        val caseRegime = "(CASE WHEN element_at(rsis, rec_idx) < ld THEN 0 " +
          "WHEN element_at(rsis, rec_idx) > lu THEN 2 ELSE 1 END)"
        val gateFlag = spec.regimeGates.map { case (n, p) =>
          s"WHEN regime_gate = '$n' THEN ($p)"
        }.mkString("CASE ", " ", " ELSE false END")
        (tagged.crossJoin(broadcast(lagGateDf))
          .withColumn("regime", expr(caseRegime))
          .filter(expr(gateFlag)),
          Seq(col("formation"), col("lag_cfg"), col("regime_gate"),
            col("barrier_profile")))
      }
    val metricsRaw = Barriers
      .metricsAgg(trades, keyCols ++ Seq(
        col("tp_pct"), col("sl_pct"), col("max_bars")): _*)
      .withColumn("generation", lit(spec.generation))
    // lag_cfg is ALWAYS present so grid and non-grid generations share one
    // results schema (a mixed-schema parquet dataset reads differently
    // depending on which footer Spark samples — r13 review); non-grid
    // sweeps ran their single `laguerre` config
    val metrics =
      if (gridMode) metricsRaw
      else metricsRaw.withColumn("lag_cfg", lit("single"))

    // the reference's resume primitive is DELETE WHERE generation = g
    // THEN re-INSERT: dynamic partition overwrite alone replaces only the
    // partitions PRESENT in this run's output, so a re-run whose tighter
    // grid produces ZERO rows for some (generation, formation) would
    // silently leave the PREVIOUS run's rows in place — stale results
    // indistinguishable from current ones (r13 review). Clear this
    // generation's subtree first; cross-generation partitions stay
    // untouched, and the write window this opens is the same one the
    // reference's DELETE+INSERT has.
    // escape the partition VALUE the way Spark does when writing the
    // directory (':', '%', control chars etc. are percent-encoded by
    // ExternalCatalogUtils.escapePathName): raw interpolation would miss
    // the escaped dir for such a generation string, the delete would
    // silently no-op, and stale rows would survive the resume (r14 advice)
    val genPath = new org.apache.hadoop.fs.Path(
      s"$outDir/results/generation=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(spec.generation))
    val fs = genPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(genPath)) fs.delete(genPath, true)
    ResultSink.overwritePartitions(metrics, s"$outDir/results",
      Seq("generation", "formation"))
    val wallS = (System.nanoTime() - t0) / 1e9
    val telemetry = Seq((spec.generation, spec.formations.size, spec.grid.size,
      spec.regimeGates.size, math.max(1, spec.laguerreGrid.size), wallS,
      java.time.Instant.now().toString))
      .toDF("generation", "n_formations", "n_barriers", "n_regime_gates",
        "n_laguerre", "wall_s", "finished_at")
    ResultSink.appendJsonl(telemetry, s"$outDir/telemetry")
    metrics
  }

  def results(spark: SparkSession, outDir: String): DataFrame =
    ResultSink.read(spark, s"$outDir/results")
}
