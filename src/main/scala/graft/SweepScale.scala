package graft

import org.apache.spark.sql.SparkSession

/** Config-axis scaling rehearsal (dev tool): runs the Sweep orchestrator at
  * three barrier-grid sizes over the same data and prints one JSON line per
  * step. The reference evaluates each config as its own SQL file
  * (gen600: 300,960 files, ~2 days on 4×16-way workers); the claim here is
  * that ONE Spark job's wall-clock is decoupled from the config count —
  * the curve (configs ×720, wall ×·) is the evidence SCALE.md records.
  *
  * Usage: runMain graft.SweepScale <sfDir> <outDir> [big] [gen800|gen800only]
  *   `big` appends the gen600-width step (302,400 configs ≈ the
  *   reference's 300,960 sed-generated files) — ~10× the 30k step's
  *   wall, so it is opt-in rather than part of the dev loop.
  *   `gen800` appends the 86,400-config Laguerre-gated step;
  *   `gen800only` runs only that step.
  */
object SweepScale {

  // every dir-expressible pattern: 8 three-bar + 4 two-bar + 2 one-bar
  private val formations: Seq[(String, String)] = {
    val threeBar = for (a <- 0 to 1; b <- 0 to 1; c <- 0 to 1)
      yield s"p3_$a$b$c" -> s"(dir_2 = $a AND dir_1 = $b AND dir_0 = $c)"
    val twoBar = for (b <- 0 to 1; c <- 0 to 1)
      yield s"p2_$b$c" -> s"(dir_1 = $b AND dir_0 = $c)"
    val oneBar = for (c <- 0 to 1) yield s"p1_$c" -> s"(dir_0 = $c)"
    threeBar ++ twoBar ++ oneBar
  }

  private val gates: Seq[(String, String)] = Seq(
    "any_regime" -> "true",
    "bearish" -> "(regime = 0)",
    "not_bearish" -> "(regime >= 1)")

  private def grid(nTp: Int, nSl: Int, nMb: Int): Seq[Sweep.BarrierCfg] =
    for {
      i <- 0 until nTp; j <- 0 until nSl; m <- 0 until nMb
    } yield Sweep.BarrierCfg(
      profile = s"g${i}_${j}_$m",
      tpPct = 0.002 + 0.001 * i,
      slPct = 0.002 + 0.001 * j,
      maxBars = 5 + 3 * m)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/sweep_scale")
    val sizes =
      if (args.contains("gen800only")) Nil
      else steps ++ (if (args.contains("big")) Seq(gen600) else Nil)
    val spark = SparkEntry.session(sfDir, SparkEntry.cpus)
    try run(spark, sfDir, outDir, sizes,
      gen800 = args.contains("gen800") || args.contains("gen800only"))
    finally spark.stop()
  }

  /** One barrier-grid size: nTp × nSl × nMb profiles, each run against
    * every formation and gate. */
  final case class Step(gen: String, nTp: Int, nSl: Int, nMb: Int)

  val steps: Seq[Step] = Seq(
    Step("sweep42", 1, 1, 1),     // 14 × 3 × 1   =     42 configs
    Step("sweep1k", 4, 3, 2),     // 14 × 3 × 24  =  1,008 (gen520's n)
    Step("sweep30k", 10, 9, 8))   // 14 × 3 × 720 = 30,240

  // gen600 width: 14 × 3 × 7,200 = 302,400 ≈ the reference's 300,960
  // (scripts/gen600/generate.sh:107-176)
  val gen600: Step = Step("sweep300k", 20, 18, 20)

  /** One step's config count, result rows and wall seconds. */
  final case class Result(step: String, nConfigs: Long, resultRows: Long, wallS: Double) {
    def json: String =
      f"""{"step":"$step","n_configs":$nConfigs,"result_rows":$resultRows,"wall_s":$wallS%.1f}"""
  }

  private def timed(step: String, nCfg: Long)(sweep: => org.apache.spark.sql.DataFrame): Result = {
    val t0 = System.nanoTime()
    val n = sweep.count()
    val r = Result(step, nCfg, n, (System.nanoTime() - t0) / 1e9)
    println(r.json)
    r
  }

  /** Runs each of `sizes`, then the gen800-width Laguerre step if
    * `gen800`; prints and returns one result per step. */
  def run(spark: SparkSession, sfDir: String, outDir: String, sizes: Seq[Step],
      gen800: Boolean): Seq[Result] = {
    val stepResults = sizes.map { case Step(gen, nTp, nSl, nMb) =>
      val g = grid(nTp, nSl, nMb)
      val spec = Sweep.SweepSpec(gen, formations, g, regimeGates = gates)
      timed(gen, formations.size.toLong * gates.size * g.size)(
        Sweep.run(spark, sfDir, spec, outDir))
    }
    // gen800 width (scripts/gen800_sweep.py:6): 288 Laguerre configs ×
    // (5 patterns × 3 gates × 20 barriers) = 86,400 configs. The Laguerre
    // axis costs its 12 DISTINCT recursions once per series
    // (Laguerre.attachRsis); thresholds and gates fan out columnar after
    // the barrier scan, so the scan never multiplies by the 288.
    stepResults ++ (if (!gen800) Nil else {
      val lagGrid = for {
        ap <- Seq(14, 32, 64, 100)
        lu <- Seq(0.60, 0.65, 0.70, 0.75, 0.80, 0.85)
        ld <- Seq(0.10, 0.15, 0.25, 0.40)
        ao <- Seq(0.50, 0.75, 1.00)
      } yield Sweep.LagCfg(s"ap${ap}_lu${lu}_ld${ld}_ao$ao", ap, ao, lu, ld)
      // the reference's 5 patterns (gen800_sweep.py PATTERNS), dir-grid form
      val five = Seq(
        "p3_000" -> "(dir_2 = 0 AND dir_1 = 0 AND dir_0 = 0)", // 3down
        "p3_100" -> "(dir_2 = 1 AND dir_1 = 0 AND dir_0 = 0)", // udd
        "p3_010" -> "(dir_2 = 0 AND dir_1 = 1 AND dir_0 = 0)", // dud
        "p2_00" -> "(dir_1 = 0 AND dir_0 = 0)",                // 2down
        "p1_0" -> "(dir_0 = 0)")                               // wl1d slot
      val gates800 = Seq(
        "bullish_only" -> "(regime = 2)",
        "not_bearish" -> "(regime >= 1)",
        "any_regime" -> "true")
      val g = grid(5, 2, 2) // 20 barrier profiles
      val spec = Sweep.SweepSpec("gen800", five, g,
        regimeGates = gates800, laguerreGrid = lagGrid)
      Seq(timed("gen800", five.size.toLong * gates800.size * g.size * lagGrid.size)(
        Sweep.run(spark, sfDir, spec, outDir)))
    })
  }
}
