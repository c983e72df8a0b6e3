package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At 100 TB scale these reads become partitioned-directory scans; all
  * queries in this engine go through here so the physical layout (a flat
  * parquet file locally, a partitioned Delta/parquet lake in production)
  * is swappable in one place. Filters and projections applied by callers
  * push down to the parquet scan via Catalyst.
  *
  * Every read goes through [[graft.sources.ResultSink.read]], which infers
  * each table's schema once per JVM and passes it to later reads, so only
  * the first read of a table launches Spark's footer-reading job. That
  * memo is invalidated by a change in any data file's name, length or
  * mtime; an in-place rewrite that keeps all three is not seen.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.ResultSink.read(spark, s"$sfDir/$name.parquet")

  /** Microseconds-since-epoch for the events `ts` column, robust to the
    * physical type the fixture was written with: TIMESTAMP(NANOS) read as
    * LongType under `nanosAsLong` (pre-r5 testdata, ScaleFixture output),
    * or a native timestamp[us] column (r5 testdata), read as TIMESTAMP or
    * TIMESTAMP_NTZ. The NTZ→TZ cast interprets the naive datetime in the
    * session timezone — pinned to UTC by SparkEntry.ensureConfs — which is
    * exactly how the DuckDB oracle's epoch_us(ts) reads the same column. */
  def tsUs(ev: DataFrame): org.apache.spark.sql.Column =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division, not `div` (which truncates toward zero): a
        // pre-epoch nanosecond timestamp like -1500 ns must map to -2 µs
        // — DuckDB's epoch_us floors — where `-1500 div 1000` gives -1
        // (r13 review; post-1970 fixtures never exercise it)
        org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")
      case _ =>
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }

  /** Spread a scan across cores ONLY when it yields fewer splits than the
    * session's parallelism — for map-only kernels whose per-row work is
    * ≫ task-dispatch cost (codec round-trips, O(cell × Dim) verify
    * folds). The bench tables are single parquet files, so such kernels
    * otherwise run on ONE task (r16's q75/q126 class); at scale the scan
    * already yields ≥ cores splits and an unconditional keyless
    * repartition would be a full extra shuffle feeding a map-only stage —
    * the gate makes the spread a no-op there (same plan, no extra
    * Exchange). Split count comes from Spark's own scan planning; no job
    * runs. */
  private[graft] def spreadIfNarrow(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame = table(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One-call SQL-surface setup: every lake table as a temp view under its
    * canonical name, plus `bars` (the event-bar frame every reference
    * template selects FROM) — so with [[graft.functions.GraftSqlFunctions
    * .registerAll]] a reference-shaped query runs as `spark.sql` text with
    * no DSL at all. Views are lazy plans: filters/projections in the SQL
    * still push down to the parquet scans. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    // pin the session confs FIRST: reading a pre-r5 TIMESTAMP(NANOS)
    // fixture throws without nanosAsLong, and an r5 TIMESTAMP_NTZ
    // fixture read under a non-UTC machine timezone would silently
    // offset every ts_us in the bars view vs the oracle's epoch_us
    // (r13 review — this is the documented one-call entry point, so it
    // cannot assume the caller went through SparkEntry first)
    graft.SparkEntry.ensureConfs(spark)
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
    graft.queries.EventBars.bars(spark, sfDir).createOrReplaceTempView("bars")
  }
}
