package graft.perfbench

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One closed-loop client issuing ops one at a time against one workload,
  * in one JVM. Warm-up rounds run untimed (they count in set-up time), then
  * as many timed rounds as fit in `--seconds` at the workload's nominal
  * round time. Every op is isolated the
  * way graft.Bench isolates queries (cache cleared and a GC, both outside
  * the timed span) and every op's output is checked.
  *
  * The raw record (per-op latencies, checks, heap, layer metrics) is
  * written to `--report` as JSON; perfbench/run.py turns it into the
  * benchmark's metrics.
  *
  * Usage: graft.perfbench.Harness --workload <sweep|queries>
  *   --seed <n> --seconds <s> --trace <0|1> --data <sfDir> --work <dir>
  *   --expect <expected.json> --launch-ms <epoch ms> --report <out.json>
  * or, to re-record the expected checksums of every checked query:
  *   graft.perfbench.Harness --record <out.json> --data <sfDir> --work <dir>
  *     [--dumps <graft.Verify output dir>]
  */
object Harness {

  final case class OpResult(id: Int, round: Int, name: String, timed: Boolean,
      latencyS: Double, work: Int, error: Option[String])

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ctx = new Ctx(o("data"), o("work"), o.get("trace").contains("1"))
    try {
      o.get("record") match {
        case Some(out) => record(ctx, out, o.get("dumps"))
        case None => run(ctx, o)
      }
    } finally ctx.spark.stop()
  }

  private def run(ctx: Ctx, o: Map[String, String]): Unit = {
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val expected = Checks.load(o("expect"))
    val wl: Workload = o("workload") match {
      case "sweep" => new SweepWorkload(ctx, seed)
      case "queries" => new QueriesWorkload(ctx, seed, expected)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val ops = mutable.ArrayBuffer.empty[OpResult]
    var round = 0
    (0 until wl.warmupRounds).foreach { _ =>
      ops ++= wl.round(round, warmup = true); round += 1
    }
    val setupS = (System.currentTimeMillis() - o("launch-ms").toLong) / 1e3
    val codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    val t0 = System.nanoTime()
    // a fixed number of timed rounds, not a deadline: every run of a
    // workload then times the same ops, however fast the machine is today
    val timedRounds = math.max(1, (seconds / wl.nominalRoundS).toInt)
    (0 until timedRounds).foreach { _ =>
      ops ++= wl.round(round, warmup = false); round += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    ctx.isolate() // samples the last timed op's live heap
    if (ctx.trace) ops ++= wl.afterTimed(round)
    val layers =
      if (ctx.trace) wl.layerMetrics(ops.toSeq) + ("codegen_classes" -> codegenClasses)
      else Map.empty[String, Double]
    if (ctx.trace)
      ctx.spans.write(java.nio.file.Paths.get(ctx.work, s"spans_${o("workload")}_$seed.jsonl"))
    val opsJson = ops.map { r =>
      Json.obj(Seq("id" -> r.id.toString, "round" -> r.round.toString,
        "name" -> Json.str(r.name), "timed" -> r.timed.toString,
        "latency_s" -> Json.num(r.latencyS), "work" -> r.work.toString,
        "error" -> r.error.map(Json.str).getOrElse("null")))
    }
    val report = Json.obj(Seq(
      "workload" -> Json.str(o("workload")),
      "setup_s" -> Json.num(setupS),
      "measured_s" -> Json.num(measuredS),
      "peak_live_heap_mb" -> Json.num(ctx.heap.peakMb),
      "ops" -> Json.arr(opsJson),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    java.nio.file.Files.write(java.nio.file.Paths.get(o("report")),
      report.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Runs every checked query once and writes its checksum. With
    * `dumps` (a graft.Verify output dir that tools/compare.py passed), each
    * checksum must also equal that of the query's oracle-checked dump. */
  private def record(ctx: Ctx, out: String, dumps: Option[String]): Unit = {
    val d = ctx.corpus(0)
    Staging.chains.foreach { case (_, build) => build(ctx.spark, d) }
    val sums = (Mix.queries ++ Mix.consumers.flatMap(_._2)).distinct.map { q =>
      val got = Checks.checksum(graft.SparkEntry.queries(q)(ctx.spark, d))
      dumps.foreach { dir =>
        val want = Checks.checksum(ctx.spark.read.parquet(s"$dir/$q"))
        require(got == want, s"$q: checksum $got differs from its Verify dump's $want")
      }
      q -> got
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sums.map { case (q, s) => s"  ${Json.str(q)}: ${Json.str(s)}" }
        .mkString("{\n", ",\n", "\n}\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** The session, the data and the shared instruments of one run. */
final class Ctx(val data: String, val work: String, val trace: Boolean) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  // input preparation, inside set-up time: read every input file once so
  // the first op does not pay for a cold page cache
  locally {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(data))
    try s.forEach(p => java.nio.file.Files.readAllBytes(p)) finally s.close()
  }

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    // the session graft.Bench builds, at the host's core count
    .config("spark.sql.shuffle.partitions",
      graft.SparkEntry.scaledShufflePartitions(data, cpus).toString)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // Spark's cache of generated classes holds 100 by default; a sweep op
    // generates 91-95 distinct classes, so at 100 some runs recompile 26-35
    // of them in every op and others none, and their medians differ by
    // 20-50 %. Sized to hold every class a workload generates, each op
    // after warm-up reuses its compiled classes in every run.
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  graft.SparkEntry.ensureConfs(spark)

  val listener: Option[OpListener] =
    if (trace) { val l = new OpListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  val spans = new Spans
  val heap = new HeapWatch
  private var nextId = 0

  /** A corpus directory that mirrors the input files under a path no
    * earlier op used, so per-corpus memos in the program miss. */
  def corpus(i: Int): String = {
    val dir = java.nio.file.Paths.get(work, "corpora", s"c$i")
    if (!java.nio.file.Files.isDirectory(dir)) {
      java.nio.file.Files.createDirectories(dir)
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(data))
      try s.forEach(p => java.nio.file.Files.createSymbolicLink(
        dir.resolve(p.getFileName), p.toAbsolutePath))
      finally s.close()
    }
    dir.toString
  }

  /** Untimed isolation before an op, as graft.Bench does per query. When
    * the op before was a timed one, its live heap is sampled first. */
  def isolate(): Unit = {
    if (heap.pending) { System.gc(); heap.sample() }
    spark.catalog.clearCache()
    System.gc()
  }

  /** Runs `body` tagged with a fresh op id; returns its result, wall time
    * in seconds, [start, end] in epoch ms and the op id. */
  def tagged[A](label: String, session: SparkSession = spark)(body: => A)
      : (A, Double, Long, Long, Int) = {
    val id = synchronized { nextId += 1; nextId }
    session.sparkContext.setJobDescription(s"perfbench:$id:$label")
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9, m0, System.currentTimeMillis(), id)
    } finally session.sparkContext.setJobDescription(null)
  }

  def counters(id: Int): OpCounters =
    listener.map(_.take(spark.sparkContext, id)).getOrElse(new OpCounters)

  /** Storage held by cached data right now, in MB. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}

/** Peak live heap: the largest heap occupancy right after a full GC in the
  * isolation that follows a timed op, before its cached data is cleared.
  * Live data, not the garbage a collection happens to leave, so it repeats
  * run to run. Only timed ops set `pending`, so warm-up ops are never
  * sampled. */
final class HeapWatch {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  @volatile var pending = false
  private var peak = 0L

  /** Called after a full GC. */
  def sample(): Unit = {
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
    pending = false
  }

  def peakMb: Double = peak / 1048576.0
}

/** Row count plus an order-independent hash of every output column. */
object Checks {
  // xxhash64 refuses maps; a map-bearing column is hashed as its JSON
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
  private def hashable(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
    if (hasMap(t)) to_json(c) else c

  def checksum(df: DataFrame): String = {
    val cols = df.schema.fields.map(f =>
      hashable(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)),
        sum(col("h").bitwiseAND(0xffffffffL)))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    f"${l(0)}%d:${l(1)}%x:${l(2)}%x"
  }

  /** expected.json: a flat object of query name -> checksum. */
  def load(path: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def verdict(name: String, got: String, expected: Map[String, String]): Option[String] =
    expected.get(name) match {
      case Some(`got`) => None
      case Some(want) => Some(s"$name: checksum $got, expected $want")
      case None => Some(s"$name: no expected checksum recorded")
    }
}

/** The timed query mix with its packs, and the staged consumers. */
object Mix {
  // the packs of the timed mix, by module name
  val packs: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "CoreQueries" -> graft.queries.CoreQueries.all,
    "QuantQueries" -> graft.queries.QuantQueries.all,
    "ChampionQueries" -> graft.queries.ChampionQueries.all,
    "EvalStatsQueries" -> graft.queries.EvalStatsQueries.all,
    "TextQueries" -> graft.queries.TextQueries.all,
    "DedupQueries" -> graft.queries.DedupQueries.all,
    "SimilarityQueries" -> graft.queries.SimilarityQueries.all,
    "AsofQueries" -> graft.queries.AsofQueries.all)

  def packOf(q: String): String =
    packs.collectFirst { case (p, all) if all.contains(q) => p }
      .getOrElse(throw new IllegalArgumentException(s"$q is in no pack of the mix"))

  /** The timed mix: one query from each of eight packs. */
  val queries: Seq[String] = Seq(
    "q81_sessionization", "q16_expanding_quantile", "q40_champion",
    "q120_cornish_fisher", "q21_text_stats", "q26_minhash_lsh",
    "q106_ann_ivfpq", "q100_asof_backward")

  /** Staging chain -> the consumers that read what it staged. */
  val consumers: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q49_dedup_pipeline", "q87_components_star"),
    "eval" -> Seq("q72_signal_regularity", "q123_tier_screening"),
    "mcdm" -> Seq("q131_entropy_topsis", "q139_rank_matrix"),
    "gate" -> Seq("q126_semantic_gate_census", "q127_semantic_gate_routed",
      "q130_semantic_index_append"))
}
