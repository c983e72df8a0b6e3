package graft.perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Sweep
import graft.perfbench.Harness.OpResult

/** Names of the per-layer metrics a traced run reports. Every traced run
  * reports all of them; a layer the workload never calls reads 0. */
object Layers {
  val listener: Seq[String] = Seq("jobs", "stages", "tasks", "task_busy_s",
    "task_wait_s", "driver_only_s", "shuffle_write_mb", "spill_mb",
    "skew_max_median", "cached_mb_after")
  val sweep: Seq[String] = Seq("EventBars.bars_s", "Laguerre.attachRegimes_s",
    "EventBars.signalForwardArrays_s", "Barriers.tripleBarrier_s",
    "Barriers.metricsAgg_s", "ResultSink.overwritePartitions_s")
  val packs: Seq[String] = Mix.queries.map(Mix.packOf).distinct.flatMap(p =>
    Seq(s"$p.construct_s", s"$p.exec_s", s"$p.driver_only_s"))
  val staging: Seq[String] = Seq("staging.build_s", "staging.overlap", "staging.task_wait_s") ++
    Mix.consumers.map(_._1).flatMap(c => Seq(s"staging.$c.build_s", s"staging.$c.read_s"))
  val all: Seq[String] = listener ++ sweep ++ packs ++ staging :+ "traced.latency_p50_s"
}

abstract class Workload(val ctx: Ctx, val seed: Long) {
  def warmupRounds: Int
  /** Typical wall of one warm round on 4 cores: `--seconds` / this many
    * rounds are timed. */
  def nominalRoundS: Double
  def round(r: Int, warmup: Boolean): Seq[OpResult]

  // per timed round: layer metric -> value (traced runs only)
  private val sums = mutable.Map.empty[Int, mutable.Map[String, Double]]
  protected def add(r: Int, name: String, v: Double): Unit = {
    val m = sums.getOrElseUpdate(r, mutable.Map.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }
  private def max(r: Int, name: String, v: Double): Unit = {
    val m = sums.getOrElseUpdate(r, mutable.Map.empty)
    m(name) = math.max(m.getOrElse(name, 0.0), v)
  }

  protected def record(r: Int, warmup: Boolean): Boolean = ctx.trace && !warmup

  /** Untimed ops a traced run adds after the timed rounds. */
  def afterTimed(r: Int): Seq[OpResult] = Nil

  // layer metrics sampled once per run, outside the timed rounds
  private val onceSums = mutable.Map.empty[String, Double]
  protected def once(name: String, v: Double): Unit =
    onceSums(name) = onceSums.getOrElse(name, 0.0) + v

  /** Takes the listener's counters of tagged unit `id` ([m0, m1] in epoch
    * ms) and adds them to round `r`; returns its driver-only seconds. */
  protected def account(r: Int, warmup: Boolean, id: Int, m0: Long, m1: Long): Double = {
    val c = ctx.counters(id)
    val driverOnly = c.driverOnlyMs(m0, m1) / 1e3
    if (record(r, warmup)) {
      add(r, "jobs", c.jobs); add(r, "stages", c.stages); add(r, "tasks", c.tasks)
      add(r, "task_busy_s", c.taskBusyMs / 1e3); add(r, "task_wait_s", c.taskWaitMs / 1e3)
      add(r, "driver_only_s", driverOnly)
      add(r, "shuffle_write_mb", c.shuffleWriteBytes / 1048576.0)
      add(r, "spill_mb", c.spillBytes / 1048576.0)
      max(r, "skew_max_median", c.skewMaxMedian)
      max(r, "cached_mb_after", ctx.cachedMb)
    }
    driverOnly
  }

  /** Runs `body`, turning a non-fatal failure into an error message. */
  protected def attempt(body: => Option[String]): Option[String] =
    try body catch { case NonFatal(e) => Some(e.toString.take(300)) }

  /** One checked query op: construct the DataFrame, then execute it into
    * its checksum; both inside the timed span. */
  protected def queryOp(r: Int, warmup: Boolean, q: String, d: String,
      expected: Map[String, String], parent: String): OpResult = {
    ctx.isolate()
    var constructS = 0.0
    val s0 = System.nanoTime()
    val (err, lat, m0, m1, id) = ctx.tagged(q) {
      attempt {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(q)(ctx.spark, d)
        constructS = (System.nanoTime() - t0) / 1e9
        Checks.verdict(q, Checks.checksum(df), expected)
      }
    }
    ctx.spans.add(Span(q, s0, System.nanoTime(), parent, id))
    if (!warmup) ctx.heap.pending = true
    val driverOnly = account(r, warmup, id, m0, m1)
    if (record(r, warmup)) {
      val p = Mix.packOf(q)
      add(r, s"$p.construct_s", constructS)
      add(r, s"$p.exec_s", lat - constructS)
      add(r, s"$p.driver_only_s", driverOnly)
    }
    OpResult(id, r, q, !warmup, lat, 1, err)
  }

  def layerMetrics(ops: Seq[OpResult]): Map[String, Double] = {
    val rounds = sums.keys.toSeq.sorted
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    val timed = ops.filter(_.timed).map(_.latencyS)
    Layers.all.map { n =>
      n -> (if (n == "traced.latency_p50_s") median(timed)
            else onceSums.getOrElse(n, median(rounds.map(r => sums(r).getOrElse(n, 0.0)))))
    }.toMap
  }
}

/** One op = one Sweep.run generation of formations x regime gates x
  * barrier profiles, all ops overwriting the same generation. */
final class SweepWorkload(ctx: Ctx, seed: Long) extends Workload(ctx, seed) {
  // a run's first ops are several times slower (JIT, codegen); after four
  // the op time still falls a little from op to op, but a fifth warm-up op
  // does not fit the time a run may take
  val warmupRounds = 4
  val nominalRoundS = 3.0

  // every dir-expressible pattern: 8 three-bar + 4 two-bar + 2 one-bar
  private val formations: Seq[(String, String)] = {
    val threeBar = for (a <- 0 to 1; b <- 0 to 1; c <- 0 to 1)
      yield s"p3_$a$b$c" -> s"(dir_2 = $a AND dir_1 = $b AND dir_0 = $c)"
    val twoBar = for (b <- 0 to 1; c <- 0 to 1)
      yield s"p2_$b$c" -> s"(dir_1 = $b AND dir_0 = $c)"
    val oneBar = for (c <- 0 to 1) yield s"p1_$c" -> s"(dir_0 = $c)"
    threeBar ++ twoBar ++ oneBar
  }
  private val gates = Seq("any_regime" -> "true", "bearish" -> "(regime = 0)",
    "not_bearish" -> "(regime >= 1)")
  // the seed draws take-profit and stop-loss levels (0.1% steps) from fixed
  // ranges; maxBars levels are fixed, so the work per config does not
  // depend on the seed
  private val rnd = new Random(seed)
  private def levels(n: Int, lo: Int, hi: Int): Seq[Double] =
    rnd.shuffle((lo to hi).toList).take(n).sorted.map(_ / 1000.0)
  private val grid: Seq[Sweep.BarrierCfg] = for {
    tp <- levels(4, 2, 12); sl <- levels(3, 2, 10); mb <- Seq(5, 8)
  } yield Sweep.BarrierCfg(s"tp${tp}_sl${sl}_mb$mb", tp, sl, mb)
  val configs: Int = formations.size * gates.size * grid.size
  private val generation = "perfbench"
  private val spec = Sweep.SweepSpec(generation, formations, grid, regimeGates = gates)
  private val out = s"${ctx.work}/sweep"
  private var reference: Option[String] = None

  def round(r: Int, warmup: Boolean): Seq[OpResult] = {
    ctx.isolate()
    val s0 = System.nanoTime()
    val (err, lat, m0, m1, id) = ctx.tagged("sweep") {
      attempt { Sweep.run(ctx.spark, ctx.data, spec, out); None }
    }
    ctx.spans.add(Span("Sweep.run", s0, System.nanoTime(), "", id))
    if (!warmup) ctx.heap.pending = true
    account(r, warmup, id, m0, m1)
    // untimed read-back: the generation's rows must hash the same after
    // every op of the run
    val check = err.orElse(attempt {
      val got = Checks.checksum(Sweep.results(ctx.spark, out).filter(col("generation") === generation))
      if (got.startsWith("0:")) Some("sweep wrote no rows")
      else reference match {
        case None => reference = Some(got); None
        case Some(`got`) => None
        case Some(want) => Some(s"sweep checksum $got differs from the run's first op $want")
      }
    })
    val traced = if (record(r, warmup)) layers(r, id) else None
    Seq(OpResult(id, r, "sweep", !warmup, lat, configs, check.orElse(traced)))
  }

  /** The traced breakdown: Sweep.run's layer functions applied in its order
    * to this op's inputs, each over its cached predecessor and materialised
    * with the noop sink, so each time is that layer's own. Its rows must
    * hash the same as Sweep.run's, or the breakdown no longer times the
    * program's wiring and the op fails. */
  private def layers(r: Int, op: Int): Option[String] = {
    import graft.operators.{Barriers, BarFrame, Laguerre}
    import graft.queries.EventBars
    val spark = ctx.spark
    import spark.implicits._
    ctx.isolate()
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def layer(name: String)(df: => DataFrame): DataFrame = {
      val (out, span) = ctx.spans.timed(name, "Sweep.run", op) {
        val c = df.persist()
        c.write.format("noop").mode("overwrite").save()
        c
      }
      cached += out
      add(r, s"$name" + "_s", span.seconds)
      out
    }
    val w = BarFrame.series(Seq(col("event_type")), col("ts_us"), col("event_id"))
    val bars = layer("EventBars.bars")(EventBars.bars(spark, ctx.data))
    val regimes = layer("Laguerre.attachRegimes")(
      Laguerre.attachRegimes(bars, spec.laguerre).drop("rsi"))
    val flagged = regimes
      .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
      .withColumn("dir_2", lag(col("dir_0"), 2).over(w))
    val anySignal = col("rn") > spec.warmupBars &&
      spec.formations.map { case (_, p) => expr(p) }.reduce(_ || _)
    val sig = layer("EventBars.signalForwardArrays")(EventBars.entryFiltered(
      EventBars.signalForwardArrays(flagged, anySignal, spec.forwardBars)))
    val gridDf = spec.grid.map(g => (g.profile, g.tpPct, g.slPct, g.maxBars))
      .toDF("barrier_profile", "tp_pct", "sl_pct", "max_bars")
    val scanned = layer("Barriers.tripleBarrier")(
      Barriers.tripleBarrier(sig.crossJoin(broadcast(gridDf))).select(
        col("dir_0"), col("dir_1"), col("dir_2"), col("regime"),
        col("barrier_profile"), col("tp_pct"), col("sl_pct"), col("max_bars"),
        col("entry_price"), col("exit_type"), col("exit_bar"), col("exit_price")))
    def stack(alias: String, flag: String, cases: Seq[(String, String)]) =
      expr(cases.map { case (n, p) => s"'$n', CASE WHEN $p THEN 1 ELSE 0 END" }
        .mkString(s"stack(${cases.size}, ", ", ", s") as ($alias, $flag)"))
    val trades = scanned.select(col("*"), stack("formation", "flag", spec.formations))
      .filter(col("flag") === 1)
      .select(col("*"), stack("regime_gate", "gate_flag", spec.regimeGates))
      .filter(col("gate_flag") === 1)
    val metrics = layer("Barriers.metricsAgg")(Barriers.metricsAgg(trades,
      col("formation"), col("regime_gate"), col("barrier_profile"),
      col("tp_pct"), col("sl_pct"), col("max_bars")))
    val traceOut = s"${ctx.work}/sweep_trace"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(traceOut))
    val (_, sink) = ctx.spans.timed("ResultSink.overwritePartitions", "Sweep.run", op) {
      graft.sources.ResultSink.overwritePartitions(
        metrics.withColumn("generation", lit(generation)).withColumn("lag_cfg", lit("single")),
        traceOut, Seq("generation", "formation"))
    }
    add(r, "ResultSink.overwritePartitions_s", sink.seconds)
    cached.foreach(_.unpersist())
    attempt {
      val got = Checks.checksum(graft.sources.ResultSink.read(spark, traceOut))
      if (reference.contains(got)) None
      else Some(s"traced sweep layers wrote $got, Sweep.run wrote ${reference.getOrElse("-")}")
    }
  }
}

/** An interactive analysis session: one timed pass = the fixed query mix
  * once, in a seeded order, where one op = one query built and executed
  * into its checksum. */
final class QueriesWorkload(ctx: Ctx, seed: Long, expected: Map[String, String])
    extends Workload(ctx, seed) {
  // the first pass builds plans that later passes reuse (per-corpus memos);
  // the second compiles about 30 classes the first did not need, and the
  // third still runs about 20 % slower than the fourth
  val warmupRounds = 3
  val nominalRoundS = 7.0
  // the traced run's staging corpus is mirrored in set-up
  private val stagingCorpus = if (ctx.trace) ctx.corpus(1) else ""

  def round(r: Int, warmup: Boolean): Seq[OpResult] =
    ctx.spans.timed(s"pass$r", "", 0) {
      new Random(seed * 1000003L + r).shuffle(Mix.queries)
        .map(q => queryOp(r, warmup, q, ctx.data, expected, s"pass$r"))
    }._1

  /** Traced runs then stage a corpus path no earlier op used (so the
    * program's per-corpus staging memos miss) with all four staging
    * chains, concurrently as graft.Bench builds them (each on a session
    * clone at a core share of the shuffle partitions), and read it with
    * one pass of every staged consumer. */
  override def afterTimed(r: Int): Seq[OpResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val d = stagingCorpus
    ctx.isolate()
    val chainParts = math.max(2, ctx.cpus / Staging.chains.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Staging.chains.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val w0 = System.nanoTime()
    val built = try {
      Staging.chains.map { case (name, build) =>
        Future {
          val s = graft.SparkEntry.ensureConfs(ctx.spark.newSession())
          s.conf.set("spark.sql.shuffle.partitions", chainParts.toString)
          val (err, lat, m0, m1, id) =
            ctx.tagged(s"staging.$name", s)(attempt { build(s, d); None })
          (name, err, lat, id)
        }
      }.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    val regionS = (System.nanoTime() - w0) / 1e9
    ctx.spans.add(Span("staging.build", w0, w0 + (regionS * 1e9).toLong, "", 0))
    built.foreach { case (name, _, lat, id) =>
      ctx.spans.add(Span(s"staging.$name", w0, w0 + (lat * 1e9).toLong, "staging.build", id))
      once(s"staging.$name.build_s", lat)
      once("staging.task_wait_s", ctx.counters(id).taskWaitMs / 1e3)
    }
    once("staging.build_s", regionS)
    once("staging.overlap", built.map(_._3).sum / regionS)
    val region = OpResult(built.head._4, r, "staging.build", timed = false, regionS,
      built.size, built.collect { case (n, Some(e), _, _) => s"staging.$n: $e" }
        .reduceOption(_ + "; " + _))
    val (reads, _) = ctx.spans.timed("staging.read", "", 0) {
      Mix.consumers.flatMap { case (chain, qs) => qs.map { q =>
        val o = queryOp(r, warmup = true, q, d, expected, "staging.read")
        once(s"staging.$chain.read_s", o.latencyS)
        o
      } }
    }
    region +: reads
  }
}

object Staging {
  val chains: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "dedup" -> ((s, d) => { graft.queries.DedupQueries.Staging.scoredAndCounts(s, d); () }),
    "eval" -> ((s, d) => graft.queries.EvalStaging.build(s, d)),
    "mcdm" -> ((s, d) => graft.queries.McdmStaging.build(s, d)),
    "gate" -> ((s, d) => graft.queries.GateStaging.build(s, d,
      flat = true, routed = true, appendBase = true)))
}
