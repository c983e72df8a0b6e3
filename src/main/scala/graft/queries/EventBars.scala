package graft.queries

import scala.collection.immutable.ArraySeq
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
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

  /** Signals-only forward arrays — the reference's AUDIT #3 lesson
    * (sql/gen200_triple_barrier.sql:16-19: "filter 1.4M bars → ~1k signals
    * BEFORE collecting forward arrays"): the window form materializes
    * k-element arrays for EVERY bar (Catalyst cannot push a non-partition-
    * key predicate through a Window); this builds them for signal rows
    * only, in one [[replay]] per series. Rows and arrays equal the window
    * form's on the signal rows with at least one forward bar
    * (ForwardArraysSpec): `event_type`, `rn`, the other `bars` columns in
    * order, then the four arrays; a null `event_type` produces no rows. */
  def signalForwardArrays(bars: DataFrame, isSignal: Column, k: Int): DataFrame =
    replay(bars.withColumn(SignalFlag, isSignal), bars.schema, Ohlc, k)

  /** [[signalForwardArrays]] for an ALREADY-FILTERED signal frame, as in
    * the gen600-faithful chain, whose signals come from a multi-stage
    * filter+window pipeline: `signals` needs a unique (event_type, rn);
    * `bars` supplies the OHLC series, is marked with the signals by one
    * left join of the small signal frame, and is replayed. Output:
    * `event_type`, `rn`, the other `signals` columns, the four arrays. */
  def forwardArraysFor(signals: DataFrame, bars: DataFrame, k: Int): DataFrame = {
    val barSide = bars.select(col("event_type") +: col("rn") +:
      Ohlc.map(c => col(c).as(BarPrefix + c)): _*)
    val marked = barSide.join(signals.withColumn(SignalFlag, lit(true)),
      Seq("event_type", "rn"), "left")
    replay(marked, signals.schema, Ohlc.map(BarPrefix + _), k)
  }

  private val Ohlc = Seq("high", "low", "open", "close")
  private val FwdCols = Seq("fwd_highs", "fwd_lows", "fwd_opens", "fwd_closes")
  private val SignalFlag = "__fwd_signal"
  private val BarPrefix = "__fwd_bar_"

  /** One streaming pass per series (`event_type`, in `rn` order) over
    * `marked`, whose [[SignalFlag]] column marks the signal rows. State is
    * a ring of the last `k` bars' `ohlc` values and a FIFO of pending
    * signals: a signal leaves, as its `payload` columns plus the four
    * arrays, when its k-th following bar arrives, or with the bars it has
    * when the series ends. Null OHLC values keep their slots. Grouping on
    * the column itself replays a frame already partitioned by series (the
    * bars window, the sweep's lags) in place, with no exchange.
    */
  private def replay(marked: DataFrame, payload: StructType, ohlc: Seq[String],
      k: Int): DataFrame = {
    if (k < 1)
      throw new IllegalArgumentException(s"forward window k must be at least 1, got $k")
    val keys = Seq("event_type", "rn")
    val in = marked.schema
    val outFields = keys.map(payload(_)) ++ payload.filterNot(f => keys.contains(f.name))
    val outSchema = StructType(outFields ++ FwdCols.zip(ohlc).map { case (name, c) =>
      StructField(name, ArrayType(in(c).dataType, in(c).nullable), nullable = false)
    })
    val payloadIdx = outFields.map(f => in.fieldIndex(f.name))
    val ohlcIdx = ohlc.map(in.fieldIndex)
    val flagIdx = in.fieldIndex(SignalFlag)
    marked.filter(col("event_type").isNotNull)
      .groupBy(col("event_type")).as[String, Row](Encoders.STRING, Encoders.row(in))
      .flatMapSortedGroups(col("rn")) { (_: String, bars: Iterator[Row]) =>
        val ring = ohlcIdx.map(_ => new Array[Any](k))
        val pending = new java.util.ArrayDeque[(Row, Long)]() // (signal, bar index)
        var n = 0L // bars seen in this series
        // the signal at bar index i with its next `len` bars, all in the ring
        def emit(sig: Row, i: Long, len: Int): Row = Row.fromSeq(payloadIdx.map(sig.get) ++
          ring.map(r => ArraySeq.tabulate[Any](len)(j => r(((i + 1 + j) % k).toInt))))
        bars.flatMap { bar =>
          ohlcIdx.indices.foreach(c => ring(c)((n % k).toInt) = bar.get(ohlcIdx(c)))
          val done = if (!pending.isEmpty && pending.peekFirst()._2 == n - k)
            Some(pending.removeFirst()) else None
          if (!bar.isNullAt(flagIdx) && bar.getBoolean(flagIdx)) pending.addLast((bar, n))
          n += 1
          done.map { case (sig, i) => emit(sig, i, k) }
        } ++ Iterator.continually(pending.pollFirst()).takeWhile(_ != null).collect {
          case (sig, i) if i < n - 1 => emit(sig, i, (n - 1 - i).toInt)
        }
      }(Encoders.row(outSchema))
      .toDF()
  }

  /** Shared sweep-signal tail (q43/q47/q51/Sweep.run — four verbatim
    * copies had to stay in sync by hand, and the drift this invites
    * already happened once: q46 rebuilt the chain and dropped the
    * repartition, r13 review): next-bar-open entry price, the P3 entry
    * filter, and the AQE-stable REPARTITION_BY_NUM that pins the grid
    * fan-out's parallelism — AQE coalesces the small signal frame to ~1
    * partition and the grid × signal explosion inherits it (observed: 1
    * of 32 cores busy for 10 minutes at the 30k-config rehearsal;
    * REPARTITION_BY_NUM is never coalesced). */
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
