package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are grouped into packs under graft.queries; this object is the
  * flat registry the driver consumes. Every query takes (spark, sfDir) and
  * reads only the driver-provided parquet tables (TESTDATA.md).
  */
object SparkEntry {

  /** Session confs the queries rely on regardless of who built the session.
    * nanosAsLong: pre-r5 fixtures carry TIMESTAMP(NANOS) which Spark cannot
    * read natively; the legacy conf maps it to LongType (ns since epoch).
    * r5 testdata ships native timestamp[us] instead — Tables.tsUs handles
    * both layouts. UTC session tz makes the NTZ→TZ cast in tsUs match the
    * oracle's epoch_us() reading of the same naive timestamps. */
  def ensureConfs(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // the rolling-quantile planner strategy, so every engine path (driver
    // smoke, Verify, Bench, user sessions routed through the registry)
    // plans sliding exclusive-quantile windows incrementally
    graft.plans.SlidingQuantileStrategy.register(spark)
    spark
  }

  /** Size of Spark's compiled-codegen class cache for the session the
    * program's mains build ([[session]]). Spark's default of
    * 100 is below one sweep's footprint (91–95 generated classes per
    * `Sweep.run`) and far below a query mix's (~216 for eight queries),
    * so at 100 every pass evicts and recompiles classes it just used.
    * A static conf — it must be set on the builder, before the session
    * exists; `ensureConfs` cannot set it. */
  val codegenCacheEntries: String = "2000"

  /** Cores of the program mains' session: SPARK_GRAFT_CPUS, else the
    * host's processor count. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** The one session every program main runs in: `local[cpus]`,
    * shuffle partitions sized from the input bytes, the codegen cache
    * sized for a query mix, then [[ensureConfs]]. Every other conf keeps
    * Spark's default; an A/B of one passes it as a system property
    * (`-Dspark.sql.adaptive.enabled=false`), which the builder reads;
    * the event log is switched on the same way
    * (`-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///...`,
    * see tools/profile_stages.sh). */
  def session(sfDir: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", scaledShufflePartitions(sfDir, cpus).toString)
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureConfs(spark)
  }

  type Query = (SparkSession, String) => DataFrame

  /** The registered queries a run over `only` covers (None: all of them).
    * An unknown name throws, naming it: a misspelled filter would
    * otherwise run nothing and read as a clean run. */
  def select(only: Option[Set[String]]): Seq[(String, Query)] = {
    val unknown = only.fold(Set.empty[String])(_ -- queries.keySet)
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(",")}")
    queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** [[select]] for a program main: an unknown name exits 2. */
  def selectOrExit(only: Option[Set[String]]): Seq[(String, Query)] =
    try select(only) catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage)
      sys.exit(2)
    }

  /** One query end to end: builds `fn` over `sfDir` and consumes the frame
    * with `sink`, under the job description `name` (the event log and UI
    * attribute stages by it) and inside a [[graft.queries.StagingRoots
    * .owningCaches]] scope, so every frame the query persisted is released
    * when the run ends, whether it succeeded or not. Returns the failure.
    * NonFatal only: an OutOfMemoryError or LinkageError leaves the JVM in
    * an undefined state, and a session that went on would record garbage
    * for every later query. */
  def run(spark: SparkSession, name: String, fn: Query, sfDir: String)(
      sink: DataFrame => Unit): Option[Throwable] = {
    spark.sparkContext.setJobDescription(name)
    try { graft.queries.StagingRoots.owningCaches(sink(fn(spark, sfDir))); None }
    catch { case NonFatal(e) => Some(e) }
    finally spark.sparkContext.setJobDescription(null)
  }

  /** Input-size-derived default shuffle-partition count (guide §2:
    * "make partitioning scale-adaptive — derive from input size — rather
    * than a constant tuned for either local mode or the cluster").
    *
    * The previous default (= the session core count) was exactly such a
    * local-mode constant: at bench SF (~17 MB of parquet) every one of a
    * query's shuffles wrote 32 buckets of a few KB and dispatched 32
    * reduce tasks per stage — pure scheduler/block tax that AQE's reduce-
    * side coalescing cannot remove (the MAP side still writes
    * `shuffle.partitions` buckets). Measured at 32 cores, sf0.1: the
    * dedup/semantic family (many tiny dependent shuffles) runs ~25%
    * faster with a data-sized partition count, and the full suite drops
    * ~9-14% (OPTIMIZATION_r17.md §12); the same suite at 8 cores was
    * already faster than at 32 for exactly this reason (r16 PERF).
    *
    * Derivation: ceil(total source bytes / 64 MB) — the guide's shuffle-
    * partition sizing target — clamped to [2, 4 × cores]. Tiny inputs get
    * a handful of partitions (every tested value 2-8 beats 32 well beyond
    * noise; the ordering among 2/4/8 is inside it); at production scale
    * the byte count, not the core count, drives the value until the
    * 4×cores cap, from which AQE coalesces down or skew-splits up per
    * stage. Operators that need scan-width parallelism independent of
    * shuffle sizing pin it explicitly (Tables.spreadIfNarrow,
    * REPARTITION_BY_NUM) and are unaffected. Result-safe by the engine's
    * rounding discipline: order-dependent double aggregates are rounded
    * on the 1e-6 lattice before comparison/output (re-proven by the full
    * DuckDB oracle at both SFs on this change). A missing path, or an
    * empty one (a session that reads no files), sizes at the floor. */
  def scaledShufflePartitions(sfDir: String, cores: Int): Int = {
    val root = java.nio.file.Paths.get(sfDir)
    val bytes: Long =
      if (sfDir.nonEmpty && java.nio.file.Files.isDirectory(root)) {
        val s = java.nio.file.Files.list(root)
        try s.mapToLong(p =>
          try java.nio.file.Files.size(p) catch { case _: Exception => 0L }
        ).sum()
        finally s.close()
      } else 0L
    val byBytes = math.ceil(bytes.toDouble / (64L << 20)).toLong
    math.max(2L, math.min(byBytes, 4L * cores.toLong)).toInt
  }

  private lazy val packs: Seq[(Map[String, Query], Map[String, String])] =
    Seq(
      (graft.queries.CoreQueries.all, graft.queries.CoreQueries.oracles),
      (graft.queries.QuantQueries.all, graft.queries.QuantQueries.oracles),
      (graft.queries.BarrierQueries.all, graft.queries.BarrierQueries.oracles),
      (graft.queries.TextQueries.all, graft.queries.TextQueries.oracles),
      (graft.queries.DedupQueries.all, graft.queries.DedupQueries.oracles),
      (graft.queries.SimilarityQueries.all, graft.queries.SimilarityQueries.oracles),
      (graft.queries.EvalQueries.all, graft.queries.EvalQueries.oracles),
      (graft.queries.MultimodalQueries.all, graft.queries.MultimodalQueries.oracles),
      (graft.queries.ChampionQueries.all, graft.queries.ChampionQueries.oracles),
      (graft.queries.SweepQueries.all, graft.queries.SweepQueries.oracles),
      (graft.queries.AdaptiveQueries.all, graft.queries.AdaptiveQueries.oracles),
      (graft.queries.CurationQueries.all, graft.queries.CurationQueries.oracles),
      (graft.queries.RankingQueries.all, graft.queries.RankingQueries.oracles),
      (graft.queries.EvalStatsQueries.all, graft.queries.EvalStatsQueries.oracles),
      (graft.queries.CorpusOpsQueries.all, graft.queries.CorpusOpsQueries.oracles),
      (graft.queries.AsofQueries.all, graft.queries.AsofQueries.oracles),
      (graft.queries.McdmQueries.all, graft.queries.McdmQueries.oracles),
      (graft.queries.ReconstructQueries.all, graft.queries.ReconstructQueries.oracles))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q40 is the gen111 champion chain — the reference's headline result
    * (SURVEY.md §6 correctness anchor) end to end. */
  def entry(spark: SparkSession): DataFrame =
    queries("q40_champion")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Query] = {
    // duplicate keys across packs would SILENTLY shadow an earlier
    // pack's query under ++ — and queries/oracleSql could even disagree
    // about which pack won, pairing query A with oracle B without any
    // error (r13 review): refuse at first access instead
    val keys = packs.flatMap(_._1.keys)
    val dup = keys.diff(keys.distinct).distinct
    require(dup.isEmpty, s"duplicate query keys across packs: ${dup.mkString(", ")}")
    packs.map(_._1).reduce(_ ++ _).map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => f(ensureConfs(s), d))
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = {
    val keys = packs.flatMap(_._2.keys)
    val dup = keys.diff(keys.distinct).distinct
    require(dup.isEmpty, s"duplicate oracle keys across packs: ${dup.mkString(", ")}")
    packs.map(_._2).reduce(_ ++ _)
  }

  /** Alternate TERMINATING oracle forms for queries whose self-contained
    * oracleSql does not finish in practical time at large SF, plus the
    * prerequisite relation each needs materialized iteratively outside
    * SQL. Dumped by Verify as oracle_prereq.json and consumed by
    * tools/compare.py; the driver's own gate keeps oracle_sql.json
    * untouched (the recursive q47 form terminates at the driver's
    * sf0.01). Keys: kind (the compare.py materializer), table (relation
    * name the oracle reads), input_sql (what the materializer consumes),
    * oracle_sql (the alternate oracle). */
  def oraclePrereq: Map[String, Map[String, String]] = {
    // regime thresholds travel WITH the spec so compare.py never carries
    // its own copy of Laguerre.Config's defaults (a silent drift hazard)
    val lag = graft.operators.Laguerre.Config()
    Map(
      "q47_regime_gated_sweep" -> Map(
        "kind" -> "laguerre_regime",
        "table" -> "lag_regime",
        "level_down" -> lag.levelDown.toString,
        "level_up" -> lag.levelUp.toString,
        "input_sql" -> graft.queries.SweepQueries.q47PrereqInputSql,
        "oracle_sql" -> graft.queries.SweepQueries.q47SqlPrecomputed))
  }
}
