package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Deterministic synthetic OHLC bar series derived from the events table —
  * the stand-in for the reference's range-bar fact table on the driver's
  * testdata (TESTDATA.md has no OHLC table). One series per event_type
  * (the symbol analogue), ordered by (ts_us, event_id):
  *   close = value, open = previous close,
  *   high = max(open, close)*1.001, low = min(open, close)*0.999.
  * First row of each series (no previous close) is dropped; rn therefore
  * starts at 2. The identical construction exists as a DuckDB CTE so
  * barrier queries are oracle-checkable end to end.
  */
object EventBars {

  def bars(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
    val ev = Tables.events(spark, d)
    ev
      .select(col("event_type"), Tables.tsUs(ev).as("ts_us"),
        col("event_id"), col("value").as("close"))
      .withColumn("open", lag(col("close"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .filter(col("open").isNotNull)
      // synthetic OHLC margins ASSUME POSITIVE PRICES (the events fixture
      // contract — value > 0): for a negative close, greatest*1.001 sits
      // BELOW both prices and least*0.999 above, inverting the high/low
      // invariant; the DuckDB CTE shares the formula so oracle parity
      // holds either way, but a signed series needs real OHLC columns,
      // not this constructor (r13 review — documented, not changed: the
      // formula is pinned bit-exactly across every bar-derived oracle)
      .withColumn("high", greatest(col("open"), col("close")) * 1.001)
      .withColumn("low", least(col("open"), col("close")) * 0.999)
  }

  /** DuckDB CTEs defining the same `bars` relation. Prepend to oracle SQL. */
  val duckCte: String =
    """WITH b0 AS (
      |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value AS close,
      |    lag(value, 1) OVER w AS open,
      |    row_number() OVER w AS rn
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)),
      |bars AS (
      |  SELECT event_type, ts_us, event_id, close, open, rn,
      |    greatest(open, close) * 1.001 AS high,
      |    least(open, close) * 0.999 AS low
      |  FROM b0 WHERE open IS NOT NULL)""".stripMargin

  /** Forward-array attachment for Spark side (AP-14 window form): arrays of
    * the next `k` bars' OHLC, excluding the current (signal) bar.
    *
    * ONE struct-typed collect, not four scalar ones: collect_list SKIPS
    * nulls, so a single NULL OHLC value would silently shorten one array
    * and misalign the four against each other and against bar indices —
    * the barrier scans would then gap-fill at the WRONG bar's open (or
    * throw on the shortened array under ANSI). A struct with a null
    * field is itself non-null, so the arrays stay index-aligned for any
    * input; bars() filters null opens, making this a latent guard for
    * external callers (r13 review). One window aggregate instead of four
    * is also the cheaper plan. */
  def withForwardArrays(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(0, k)
    val fwd = slice(collect_list(struct(
      col("high"), col("low"), col("open"), col("close"))).over(w), 2, k)
    df
      .withColumn("__fwd", fwd)
      .withColumn("fwd_highs", col("__fwd").getField("high"))
      .withColumn("fwd_lows", col("__fwd").getField("low"))
      .withColumn("fwd_opens", col("__fwd").getField("open"))
      .withColumn("fwd_closes", col("__fwd").getField("close"))
      .drop("__fwd")
  }

  /** Signals-only forward-array collection — the reference's AUDIT #3
    * lesson (sql/gen200_triple_barrier.sql:16-19: "filter 1.4M bars → ~1k
    * signals BEFORE collecting forward arrays") restated as a *bucketed
    * band join*, because the window form (withForwardArrays) materializes
    * k-element arrays for EVERY bar before the signal filter can apply
    * (Catalyst cannot push a non-partition-key predicate through a Window).
    *
    * Shape: bars get a chunk id (rn div k); each signal explodes to the
    * 2–3 chunks its forward window can touch; the join is then a pure
    * equi-join on (event_type, chunk) with the band condition as a cheap
    * post-filter, and per-signal arrays come from a sorted collect_list.
    * Cost scales with |signals|·k, not |bars|·k — at a 1/25 signal rate
    * that is a ~10× win locally and the difference between "fits" and
    * "OOM" at the 100 TB end (the reference's gen600 OOMs were exactly
    * this: 200-element arrays × all bars).
    *
    * Emits the same schema as withForwardArrays restricted to signal rows
    * (verified row-for-row in ForwardArraysSpec).
    */
  def signalForwardArrays(bars: DataFrame, isSignal: Column, k: Int): DataFrame = {
    // The band join reads `bars` from three subtrees (the signal filter, the
    // chunked array source, and the join-back of the signal payload).
    // Without a shared materialization Catalyst plans an independent
    // scan + shuffle + sort + window stack per subtree — observed as 3×
    // parquet scans in the q43 plan. Persisting the frame is the local form
    // of the stage checkpoint a 100 TB run would write between the bar-prep
    // and sweep stages; MEMORY_AND_DISK spills instead of recomputing when
    // the bar frame outgrows executor storage.
    //
    // Cache lifetime: the frame lives for one run. Inside
    // SparkEntry.run (or a staging build) the owning scope releases it
    // when the run ends; outside every scope it is a plain persist, which
    // CacheManager dedupes per canonical plan, so repeated calls on one
    // corpus attach to one resident copy.
    val shared = StagingRoots.persist(bars)
    forwardArraysFor(shared.filter(isSignal), shared, k)
  }

  /** Banded-join forward-array attachment for an ALREADY-FILTERED signal
    * frame (the general form of [[signalForwardArrays]]): `signals` needs
    * (event_type, rn); `bars` supplies the OHLC series. Used by the
    * gen600-faithful chain where signals emerge from a multi-stage
    * filter+window pipeline, not a single predicate over bars.
    *
    * Equivalence note (vs the window form): signals whose forward window is
    * empty (last bar of a series) produce no row here (inner join) — the
    * contract is equivalence AFTER the P3 entry filter (`entry_price IS NOT
    * NULL` implies ≥1 forward bar), which every caller applies upstream.
    * (event_type, rn) must uniquely key `signals` rows.
    */
  def forwardArraysFor(signals: DataFrame, bars: DataFrame, k: Int): DataFrame = {
    // shuffle-width discipline: the band join fans every signal out to ~k
    // bar rows, so ONLY the join key (event_type, rn) rides through the
    // fan-out and the array aggregation — the full signal payload would be
    // duplicated k× through two shuffles otherwise. Arrays are built on the
    // narrow frame and joined back to the (much smaller, un-fanned) signal
    // frame at the end.
    val s = signals.select(col("event_type"), col("rn"))
      .withColumn("s_chunk",
        explode(expr(s"sequence(rn div $k, (rn + $k) div $k)")))
    val barsC = bars.select(
      col("event_type").as("b_et"), col("rn").as("b_rn"),
      col("high").as("b_high"), col("low").as("b_low"),
      col("open").as("b_open"), col("close").as("b_close"))
      .withColumn("b_chunk", expr(s"b_rn div $k"))
    val arrays = s.join(barsC,
      col("event_type") === col("b_et") && col("s_chunk") === col("b_chunk") &&
        col("b_rn") > col("rn") && col("b_rn") <= col("rn") + k)
      .groupBy(col("event_type"), col("rn"))
      .agg(sort_array(collect_list(struct(
        col("b_rn"), col("b_high"), col("b_low"), col("b_open"), col("b_close"))))
        .as("fwd"))
    // field extraction from the struct array (GetArrayStructFields) is
    // codegen'd; a `transform(fwd, x -> x.b_high)` lambda is not
    signals.join(arrays, Seq("event_type", "rn"))
      .withColumn("fwd_highs", col("fwd").getField("b_high"))
      .withColumn("fwd_lows", col("fwd").getField("b_low"))
      .withColumn("fwd_opens", col("fwd").getField("b_open"))
      .withColumn("fwd_closes", col("fwd").getField("b_close"))
      .drop("fwd")
  }

  /** Shared post-band-join sweep-signal tail (q43/q47/q51/Sweep.run —
    * four verbatim copies had to stay in sync by hand, and the drift this
    * invites already happened once: q46 rebuilt the chain and dropped the
    * repartition, r13 review): next-bar-open entry price, the P3 entry
    * filter, and the AQE-stable REPARTITION_BY_NUM that pins the grid
    * fan-out's parallelism — AQE coalesces the small post-band-join frame
    * to ~1 partition and the grid × signal explosion inherits it
    * (observed: 1 of 32 cores busy for 10 minutes at the 30k-config
    * rehearsal; REPARTITION_BY_NUM is never coalesced). */
  def entryFiltered(sig: DataFrame): DataFrame =
    sig
      .withColumn("entry_price", try_element_at(col("fwd_opens"), lit(1)))
      .filter(col("entry_price").isNotNull && col("entry_price") > 0)
      .repartition(sig.sparkSession.sparkContext.defaultParallelism)

  /** DuckDB CTE producing the same forward arrays on `bars` → `fwd`. */
  def duckFwdCte(k: Int): String =
    s"""fwd AS (
       |  SELECT *,
       |    list_slice(list(high) OVER fw, 2, ${k + 1}) AS fwd_highs,
       |    list_slice(list(low) OVER fw, 2, ${k + 1}) AS fwd_lows,
       |    list_slice(list(open) OVER fw, 2, ${k + 1}) AS fwd_opens,
       |    list_slice(list(close) OVER fw, 2, ${k + 1}) AS fwd_closes
       |  FROM bars
       |  WINDOW fw AS (PARTITION BY event_type ORDER BY ts_us, event_id
       |                ROWS BETWEEN CURRENT ROW AND $k FOLLOWING))""".stripMargin
}
