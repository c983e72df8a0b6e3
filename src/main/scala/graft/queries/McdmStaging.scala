package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staged shared MCDM frames (the EvalStaging discipline on the gen720
  * selection axis): every query in the q131–q142 pack consumes the same
  * fold frame, and three of them (q135/q136/q139) additionally consume
  * the same 200-rep bootstrap resample medians — the reference writes
  * `{direction}_folds.parquet` ONCE and every ranking round reads it
  * (gen720_ranking_experiments.py:96-105 `load_folds`), while the r15
  * engine rebuilt + persisted the frame per query and re-ran the
  * resample chain in each of the three bootstrap consumers (~8–12 s of
  * duplicated bench time, r15 verdict INFO). Each frame is now built
  * once per (JVM, corpus), written to a temp parquet staging table, and
  * read back by every consumer — the local form of the checkpointed
  * staging table a 100 TB run would write between the fact pass and the
  * selection layer.
  *
  * The RAW builders stay where they were (McdmQueries.foldFrameRaw /
  * repMedianRaw): PlanShapeSpec pins the raw fold-frame plan (ONE fact
  * exchange), and the DuckDB oracles replay the raw chains — staging
  * changes where the rows are read from, never what they are. Doubles
  * round-trip parquet bit-exactly, so hashes are unchanged.
  */
private[graft] object McdmStaging {
  /** The gen720 fold frame (bid, sym, fmt, thr, fold, fold_key, n, 6
    * metrics), staged — the ONE windowed fact pass the pack pays per
    * corpus. */
  def folds(spark: SparkSession, d: String): DataFrame =
    StagingRoots.table(spark, "mcdm", "folds", d)(McdmQueries.foldFrameRaw(spark, d))

  /** The 200-rep bootstrap resample medians (rep, bid, med_*), staged —
    * the resample join + per-(rep, bid) median aggregation shared by
    * q135/q136/q139. Builds on the staged fold frame so the fact pass
    * runs once, not once per frame. */
  def repMedians(spark: SparkSession, d: String): DataFrame =
    StagingRoots.table(spark, "mcdm", "repmed", d)(
      McdmQueries.repMedianRaw(spark, folds(spark, d)))

  /** Pre-build both frames (the Bench `q_staging_mcdm` hook). Sequential
    * by dependency: repMedians consumes the staged folds. */
  def build(spark: SparkSession, d: String): Unit = {
    folds(spark, d)
    repMedians(spark, d)
    ()
  }
}
