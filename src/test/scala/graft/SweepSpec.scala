package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.Sweep.{BarrierCfg, SweepSpec}

/** End-to-end sweep orchestration: one job covers the whole config grid,
  * results land partitioned by (generation, formation), re-running one
  * generation leaves others intact (crash-resume), telemetry appends.
  */
class SweepSpec extends GraftSuite {

  private val grid = Seq(
    BarrierCfg("sym", 0.0075, 0.0075, 20),
    BarrierCfg("mom", 0.01, 0.005, 30))

  test("sweep writes per-config metrics + telemetry; resume overwrites only its generation") {
    val out = Files.createTempDirectory("graft_sweep").toString
    val g1 = Sweep.run(spark, sf, SweepSpec("g1",
      Seq("2down_ng" -> "(dir_1 = 0 AND dir_0 = 0)",
        "dud" -> "(dir_2 = 0 AND dir_1 = 1 AND dir_0 = 0)"), grid), out)
    assert(g1.count() == 4) // 2 formations × 2 profiles
    val stored = Sweep.results(spark, out)
    assert(stored.count() == 4)
    assert(stored.filter(col("win_rate").isNull).count() == 0)

    // second generation with one formation
    Sweep.run(spark, sf, SweepSpec("g2",
      Seq("2down_ng" -> "(dir_1 = 0 AND dir_0 = 0)"), grid), out)
    assert(Sweep.results(spark, out).count() == 6)

    // re-run g1 (crash-resume): still 6 rows, g2 untouched
    Sweep.run(spark, sf, SweepSpec("g1",
      Seq("2down_ng" -> "(dir_1 = 0 AND dir_0 = 0)",
        "dud" -> "(dir_2 = 0 AND dir_1 = 1 AND dir_0 = 0)"), grid), out)
    val after = Sweep.results(spark, out)
    assert(after.count() == 6)
    assert(after.filter(col("generation") === "g2").count() == 2)

    // telemetry: one JSONL line per run
    val tele = graft.sources.ResultSink.readJsonl(spark, s"$out/telemetry")
    assert(tele.count() == 3)
    assert(tele.filter(col("generation") === "g1").count() == 2)
  }

  test("Sweep.run outside any owning scope leaves nothing cached") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("graft_sweep_cache").toString
    Sweep.run(spark, sf, SweepSpec("gc",
      Seq("2down_ng" -> "(dir_1 = 0 AND dir_0 = 0)"), grid), out)
    assert(cacheManager.isEmpty, "Sweep.run left cached frames")
  }

  test("E30 regime-gated sweep: gates key the output, any_regime slice matches " +
    "the ungated sweep, gate census matches an independent recomputation") {
    import org.apache.spark.sql.Row
    val out = Files.createTempDirectory("graft_sweep3").toString
    val formations = Seq("2down_ng" -> "(dir_1 = 0 AND dir_0 = 0)")
    val gates = Seq(
      "any_regime" -> "true",
      "bullish_only" -> "(regime = 2)",
      "not_bearish" -> "(regime >= 1)")
    val gated = Sweep.run(spark, sf,
      SweepSpec("g800", formations, grid, regimeGates = gates), out)
    // keyed by (formation, regime_gate, profile): 1 × 3 × 2 combos, minus
    // gate slices with zero surviving trades
    val rows = gated.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("formation") == "2down_ng"))
    val byKey = rows.map(r => (r.getAs[String]("regime_gate"),
      r.getAs[String]("barrier_profile")) -> r.getAs[Long]("total_signals")).toMap
    // monotone: gating can only remove signals
    for (p <- grid.map(_.profile); g <- Seq("bullish_only", "not_bearish")) {
      val gatedN = byKey.getOrElse((g, p), 0L)
      assert(gatedN <= byKey(("any_regime", p)),
        s"gate $g/$p has more signals than ungated")
    }
    // not_bearish (regime ≥ 1) is a superset of bullish_only (regime = 2)
    for (p <- grid.map(_.profile))
      assert(byKey.getOrElse(("bullish_only", p), 0L) <=
        byKey.getOrElse(("not_bearish", p), 0L))

    // any_regime slice == ungated sweep, metric for metric
    val ungated = Sweep.run(spark, sf, SweepSpec("plain", formations, grid),
      Files.createTempDirectory("graft_sweep4").toString)
    // counts must be identical; double metrics agree to 1e-9 relative (the
    // gate stack reorders the float summation)
    val cols = Seq("formation", "barrier_profile", "total_signals", "tp_count",
      "sl_count", "time_count", "win_rate", "profit_factor")
    def key(r: Row) = (r.getString(0), r.getString(1))
    val anySlice = gated.filter(col("regime_gate") === "any_regime")
      .select(cols.map(col): _*).collect().map(r => key(r) -> r).toMap
    val plain = ungated.select(cols.map(col): _*).collect().map(r => key(r) -> r).toMap
    assert(anySlice.keySet == plain.keySet)
    for ((k, a) <- anySlice; b = plain(k)) {
      (2 to 5).foreach(i => assert(a.getLong(i) == b.getLong(i), s"$k col $i"))
      (6 to 7).foreach { i =>
        val (x, y) = (a.getDouble(i), b.getDouble(i))
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"$k col $i: $x vs $y")
      }
    }

    // census cross-check: per-gate SIGNAL counts recomputed independently
    // from the Laguerre golden + direction flags (entry validity included).
    // A max_bars=1 census grid makes total_signals == signal count (every
    // entered signal completes within one bar: TP/SL or TIME).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
    val bars = queries.EventBars.bars(spark, sf)
    val regimes = operators.Laguerre.withRegimes(bars).toDF()
      .select(col("event_type").as("et2"), col("ts_us").as("ts2"),
        col("event_id").as("eid2"), col("regime"))
    val signals = bars
      .withColumn("dir_0", operators.BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
      .withColumn("next_open", lead(col("open"), 1).over(w))
      .join(regimes, col("event_type") === col("et2") &&
        col("ts_us") === col("ts2") && col("event_id") === col("eid2"))
      .filter(col("rn") > 100 && col("dir_1") === 0 && col("dir_0") === 0 &&
        col("next_open").isNotNull && col("next_open") > 0)
    val want = Map(
      "any_regime" -> signals.count(),
      "bullish_only" -> signals.filter(col("regime") === 2).count(),
      "not_bearish" -> signals.filter(col("regime") >= 1).count())
    val census = Sweep.run(spark, sf,
      SweepSpec("census", formations, Seq(BarrierCfg("c1", 0.5, 0.5, 1)),
        regimeGates = gates),
      Files.createTempDirectory("graft_sweep5").toString)
      .collect()
      .map(r => r.getAs[String]("regime_gate") -> r.getAs[Long]("total_signals"))
      .toMap
    for ((g, n) <- want if n > 0)
      assert(census.getOrElse(g, 0L) == n, s"census mismatch for $g")
  }

  test("gen800 laguerreGrid mode: the default-config cell reproduces the " +
    "single-config gated sweep row-for-row; thresholds fan out monotonically") {
    import org.apache.spark.sql.Row
    val formations = Seq("2down_ng" -> "(dir_1 = 0 AND dir_0 = 0)")
    val gates = Seq(
      "bullish_only" -> "(regime = 2)",
      "not_bearish" -> "(regime >= 1)",
      "any_regime" -> "true")
    // one cell IS the default Laguerre config; one differs in the
    // recursion axis, one only in the threshold axis (shares a recursion)
    val lagGrid = Seq(
      Sweep.LagCfg("default", 32, 0.75, 0.85, 0.15),
      Sweep.LagCfg("fastrec", 14, 1.0, 0.85, 0.15),
      Sweep.LagCfg("widethr", 32, 0.75, 0.60, 0.40))
    val gridRun = Sweep.run(spark, sf, SweepSpec("g800grid", formations, grid,
      regimeGates = gates, laguerreGrid = lagGrid),
      Files.createTempDirectory("graft_sweep800").toString)
    val single = Sweep.run(spark, sf, SweepSpec("g800one", formations, grid,
      regimeGates = gates),
      Files.createTempDirectory("graft_sweep801").toString)
    val cols = Seq("formation", "regime_gate", "barrier_profile",
      "total_signals", "tp_count", "sl_count", "time_count",
      "win_rate", "profit_factor")
    def key(r: Row) = (r.getString(0), r.getString(1), r.getString(2))
    val defSlice = gridRun.filter(col("lag_cfg") === "default")
      .select(cols.map(col): _*).collect().map(r => key(r) -> r).toMap
    val one = single.select(cols.map(col): _*).collect()
      .map(r => key(r) -> r).toMap
    assert(defSlice.keySet == one.keySet,
      s"grid default cell keys drifted: ${defSlice.keySet diff one.keySet}")
    for ((k, a) <- defSlice; b = one(k)) {
      (3 to 6).foreach(i => assert(a.getLong(i) == b.getLong(i), s"$k col $i"))
      (7 to 8).foreach { i =>
        assert(a.isNullAt(i) == b.isNullAt(i), s"$k col $i null drift")
        if (!a.isNullAt(i)) {
          val (x, y) = (a.getDouble(i), b.getDouble(i))
          assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
            s"$k col $i: $x vs $y")
        }
      }
    }
    // threshold fan-out laws on the SHARED recursion (default vs widethr):
    // lower levelUp admits more bullish bars; higher levelDown removes
    // more not_bearish bars; any_regime never reads thresholds
    def counts(cfg: String): Map[(String, String), Long] =
      gridRun.filter(col("lag_cfg") === cfg).collect()
        .map(r => (r.getAs[String]("regime_gate"),
          r.getAs[String]("barrier_profile")) -> r.getAs[Long]("total_signals"))
        .toMap
    val (d, wt, fr) = (counts("default"), counts("widethr"), counts("fastrec"))
    for (p <- grid.map(_.profile)) {
      assert(wt.getOrElse(("bullish_only", p), 0L) >=
        d.getOrElse(("bullish_only", p), 0L), s"lu 0.60 lost bullish bars at $p")
      assert(wt.getOrElse(("not_bearish", p), 0L) <=
        d.getOrElse(("not_bearish", p), 0L), s"ld 0.40 kept extra bars at $p")
      val anyD = d.getOrElse(("any_regime", p), 0L)
      assert(wt.getOrElse(("any_regime", p), 0L) == anyD &&
        fr.getOrElse(("any_regime", p), 0L) == anyD,
        s"any_regime drifted across Laguerre cells at $p")
    }
  }

  test("q47 regime-gated sweep query: any_regime slice reproduces q43 rows") {
    val q47 = queries.SweepQueries.q47RegimeGatedSweep(spark, sf)
    val anySlice = q47.filter(col("regime_gate") === "any_regime")
      .drop("regime_gate").collect().map(_.toString).sorted.toSeq
    val q43 = queries.SweepQueries.q43FormationBarrierSweep(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(anySlice == q43)
    assert(q47.count() > q43.length, "gated slices missing from q47")
  }

  test("q51 xa metrics feed the E15 survivor analysis (cross_asset.py → ranking.py)") {
    val xa = queries.SweepQueries.q51CrossAsset(spark, sf).collect()
    assert(xa.length == 9) // 3 formations × 3 profiles
    val ids = xa.map(r => r.getString(0) + "/" + r.getString(1))
    def metric(name: String): Map[String, Option[Double]] =
      ids.zip(xa.map { r =>
        if (r.isNullAt(r.fieldIndex(name))) None
        else Some(r.getAs[Any](name) match {
          case d: Double => d
          case l: Long => l.toDouble
        })
      }).toMap
    val metricData = Map(
      "xa_avg_pf" -> metric("xa_avg_pf"),
      "xa_consistency" -> metric("xa_consistency"),
      "xa_total_signals" -> metric("xa_total_signals"))
    val res = graft.eval.Ranking.survivorAnalysis(metricData,
      Map("xa_avg_pf" -> true, "xa_consistency" -> true, "xa_total_signals" -> true),
      Map("xa_avg_pf" -> 50, "xa_consistency" -> 100, "xa_total_signals" -> 100))
    // only the PF cutoff binds: survivors = top half by avg_pf
    assert(res.nIntersection > 0 && res.nIntersection <= 5)
    val topHalf = ids.zip(xa.map(_.getAs[Double]("xa_avg_pf")))
      .sortBy { case (id, pf) => (-pf, id) }.take(5).map(_._1).toSet
    assert(res.survivors.forall(topHalf.contains), s"${res.survivors} vs $topHalf")
  }

  test("sweep metrics agree with the oracle-checked q43 on shared configs") {
    val out = Files.createTempDirectory("graft_sweep2").toString
    val mine = Sweep.run(spark, sf, SweepSpec("x",
      Seq("dud" -> "(dir_2 = 0 AND dir_1 = 1 AND dir_0 = 0)"),
      Seq(BarrierCfg("symmetric", 0.0075, 0.0075, 20))), out)
      .select("formation", "barrier_profile", "total_signals", "tp_count")
      .collect().head
    val q43 = queries.SweepQueries.q43FormationBarrierSweep(spark, sf)
      .filter(col("formation") === "dud" && col("barrier_profile") === "symmetric")
      .select("formation", "barrier_profile", "total_signals", "tp_count")
      .collect().head
    assert(mine.getLong(2) == q43.getLong(2) && mine.getLong(3) == q43.getLong(3))
  }
}
