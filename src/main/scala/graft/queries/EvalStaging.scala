package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staged shared eval frames (the DedupQueries.Staging discipline on the
  * eval axis): q72's KDE regularity lane and the q122/q123 TAMRS frame are
  * the two expensive chains the selection layer re-derived per query —
  * q123 alone rebuilt BOTH inline (r10 bench: 10.5 s, ~all of it shared
  * work). Each is now built ONCE per (JVM, corpus), written to a temp
  * parquet staging table, and read back by every consumer — the local
  * form of the checkpointed staging table a 100 TB run would write
  * between the metric pass and the selection layer (SURVEY §3's staged
  * materialization story; the bench reports the build as its own
  * `q_staging_eval` row so q72/q122/q123 report plan cost, not
  * build-order accounting).
  *
  * The RAW builders stay where they were (RankingQueries.
  * q72SignalRegularity, EvalStatsQueries.tamrsFrameRaw): PlanShapeSpec
  * audits the raw KDE plan, and the DuckDB oracles replay the raw chains
  * — staging changes where the rows are read from, never what they are. */
private[graft] object EvalStaging {
  /** q72's full regularity output (cfg, n, qualified, n_peaks,
    * kde_peak_cv, raw_iat_cv, coverage, bandwidth_factor), staged. */
  def regularity(spark: SparkSession, d: String): DataFrame =
    StagingRoots.table(spark, "eval", "regularity", d)(
      RankingQueries.q72SignalRegularity(spark, d))

  /** The joined TAMRS frame (cfg, n_trades, tamrs, rachev_ratio,
    * sl_cdar_ratio, ou_barrier_ratio), staged. */
  def tamrs(spark: SparkSession, d: String): DataFrame =
    StagingRoots.table(spark, "eval", "tamrs", d)(
      EvalStatsQueries.tamrsFrameRaw(spark, d))

  /** Pre-build both frames (the Bench `q_staging_eval` hook).
    *
    * The two builds run CONCURRENTLY on the shared scheduler: the chains
    * are stage-latency-bound, not data-bound (events is 10⁵ rows at bench
    * SF; the KDE pair join is ~25M codegen'd exp() terms ≪ 1 s of CPU —
    * the r11 ~28 s row was ~30 sequential stages × scheduler/broadcast/
    * codegen-compile latency; measured: persisting the shared cfgReturns
    * input moved nothing). AQE is disabled for the build only: both of its
    * levers are no-ops on these plans — every shuffle is either the one
    * hash-balanced cfgReturns window exchange or on the bounded config
    * axis (≈50 keys, skew-free by construction), so there is nothing to
    * coalesce or skew-split — while its stage-by-stage materialization
    * nearly doubled the DAG's latency (13.1 s → 7.2 s measured). The
    * consumers (q72/q122/q123) still run under the session's AQE.
    *
    * The AQE disable lives on a CLONED session (`newSession`: shared
    * context, cache and staged files; session-local SQL conf), never the
    * caller's — a query running concurrently on the caller's session keeps
    * its own AQE regime (r12 verdict; EvalStagingSpec polls the caller's
    * conf during a live build). */
  def build(spark: SparkSession, d: String): Unit = {
    val buildSession = spark.newSession()
    // newSession inherits only BUILDER-time SparkConf entries, not the
    // caller's runtime conf.set state — carry the confs the staged chains
    // are documented to need (ensureConfs' UTC/nanosAsLong pins, the
    // session's parallelism), then re-apply ensureConfs (which also
    // registers the sliding-quantile strategy) so the clone plans exactly
    // like a caller-configured session would (r13 review)
    Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.shuffle.partitions").foreach { k =>
      spark.conf.getOption(k).foreach(buildSession.conf.set(k, _))
    }
    graft.SparkEntry.ensureConfs(buildSession)
    buildSession.conf.set("spark.sql.adaptive.enabled", "false")
    StagingRoots.all(Seq(
      () => regularity(buildSession, d),
      () => tamrs(buildSession, d)))
    ()
  }
}
