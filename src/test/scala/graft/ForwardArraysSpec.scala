package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.EventBars

/** The signals-only forward-array replay must agree row-for-row and
  * element-for-element with the window form (`withForwardArrays`, the J2
  * reference) restricted to the signal rows that have a forward bar.
  */
class ForwardArraysSpec extends GraftSuite {

  private type Arrays = (Seq[Any], Seq[Any], Seq[Any], Seq[Any])

  private def arraysOf(r: Row): Arrays = {
    def a(name: String): Seq[Any] = r.getSeq[Any](r.fieldIndex(name))
    (a("fwd_highs"), a("fwd_lows"), a("fwd_opens"), a("fwd_closes"))
  }

  private def keyed(df: DataFrame): Map[(String, Int), Arrays] = {
    val rows = df.collect()
    val m = rows.map(r => (r.getAs[String]("event_type"), r.getAs[Int]("rn")) -> arraysOf(r)).toMap
    assert(m.size == rows.length, "duplicate (event_type, rn) rows")
    m
  }

  /** The J2 window form on `bars`, kept to the rows the replay emits. */
  private def windowed(bars: DataFrame, isSignal: Column, k: Int): Map[(String, Int), Arrays] =
    keyed(EventBars.withForwardArrays(bars, k)
      .filter(isSignal && col("event_type").isNotNull && size(col("fwd_highs")) > 0))

  private val barSchema = StructType(Seq(
    StructField("event_type", StringType), StructField("ts_us", LongType),
    StructField("event_id", LongType), StructField("close", DoubleType),
    StructField("open", DoubleType), StructField("rn", IntegerType, nullable = false),
    StructField("high", DoubleType), StructField("low", DoubleType)))

  /** Hand-made series in the `bars` layout: "A" has 40 bars with one null
    * in each OHLC column, "B" one bar, "C" five bars, and a five-bar series
    * without an event_type. */
  private lazy val edgeBars: DataFrame = {
    def series(et: String, n: Int, base: Double): Seq[Row] = (0 until n).map { i =>
      val rn = i + 2
      val close = base + i * 0.5 + (if (i % 3 == 0) 0.25 else -0.125)
      val open = base + (i - 1) * 0.5
      def nullAt(col: Int, v: Double): Any = if (et == "A" && i == col) null else v
      Row(et, 1000L * rn, 100000L * base.toLong + rn, nullAt(20, close),
        nullAt(21, open), rn, nullAt(22, math.max(open, close) * 1.001),
        nullAt(23, math.min(open, close) * 0.999))
    }
    val rows = series("A", 40, 10.0) ++ series("B", 1, 20.0) ++ series("C", 5, 30.0) ++
      series(null, 5, 40.0)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), barSchema)
  }

  // adjacent signals, signals whose windows hold each null, a signal on the
  // last bar of A (no row) and signals within k of A's end (short arrays),
  // B's only bar, C's first and last bars, and every bar of the null series
  private val edgeSignal: Column =
    col("rn").isin(2, 5, 6, 7, 19, 20, 21, 36, 39, 40, 41) ||
      col("event_type") === "B" || col("event_type") === "C" && col("rn").isin(2, 6) ||
      col("event_type").isNull

  test("signalForwardArrays == windowed withForwardArrays on signal rows") {
    val k = 35
    val bars = EventBars.bars(spark, sf)
    val isSignal = col("rn") % 25 === 0
    val replayed = keyed(EventBars.signalForwardArrays(bars, isSignal, k))
    assert(replayed.nonEmpty)
    assert(replayed == windowed(bars, isSignal, k))
  }

  test("edge series: k in {1, 3, 35}, nulls keep their slots, short and empty " +
    "forward windows, adjacent signals, one-bar and null-event_type series") {
    for (k <- Seq(1, 3, 35)) {
      val replayed = keyed(EventBars.signalForwardArrays(edgeBars, edgeSignal, k))
      assert(replayed == windowed(edgeBars, edgeSignal, k), s"k = $k")
      val keys = replayed.keySet
      assert(!keys.contains(("A", 41)), s"k = $k: a signal on the last bar produced a row")
      assert(!keys.exists(_._1 == null), s"k = $k: the null-event_type series produced rows")
      assert(!keys.exists(_._1 == "B"), s"k = $k: the one-bar series produced a row")
      assert(keys.contains(("A", 5)) && keys.contains(("A", 6)) && keys.contains(("A", 7)))
      assert(replayed(("A", 40))._1.size == 1, s"k = $k")
      assert(replayed(("A", 2))._1.size == math.min(k, 39), s"k = $k")
      assert(replayed.values.forall(a => a._1.size <= k), s"k = $k")
    }
    // the nulls (bar index 20..23 = rn 22..25) sit in their own slots
    val a = keyed(EventBars.signalForwardArrays(edgeBars, edgeSignal, 3))(("A", 21))
    assert(a._4.head == null && a._1.head != null) // rn 22: null close
    assert(a._3(1) == null && a._2(1) != null) // rn 23: null open
    assert(a._1(2) == null && a._3(2) != null) // rn 24: null high
  }

  test("forwardArraysFor: the signal frame's payload rides through, arrays as " +
    "the window form's") {
    val signals = edgeBars.filter(edgeSignal)
      .select(col("event_id"), col("rn"), col("event_type"), (col("rn") * 10).as("tag"))
    for (k <- Seq(1, 3, 35)) {
      val out = EventBars.forwardArraysFor(signals, edgeBars, k)
      assert(out.columns.toSeq == Seq("event_type", "rn", "event_id", "tag",
        "fwd_highs", "fwd_lows", "fwd_opens", "fwd_closes"))
      assert(keyed(out) == windowed(edgeBars, edgeSignal, k), s"k = $k")
      assert(out.collect().forall(r => r.getAs[Int]("tag") == r.getAs[Int]("rn") * 10))
    }
    val bars = EventBars.bars(spark, sf)
    val sig = bars.filter(col("rn") % 7 === 0).withColumn("dir_0", lit(1))
    assert(keyed(EventBars.forwardArraysFor(sig, bars, 40)) ==
      windowed(bars, col("rn") % 7 === 0, 40))
  }

  test("output schema: keys first, the other columns in order, four non-null arrays") {
    val arr = ArrayType(DoubleType, containsNull = true)
    val expected = StructType(Seq(
      StructField("event_type", StringType), StructField("rn", IntegerType, nullable = false),
      StructField("ts_us", LongType), StructField("event_id", LongType),
      StructField("close", DoubleType), StructField("open", DoubleType),
      StructField("high", DoubleType), StructField("low", DoubleType)) ++
      Seq("fwd_highs", "fwd_lows", "fwd_opens", "fwd_closes")
        .map(StructField(_, arr, nullable = false)))
    val bars = EventBars.bars(spark, sf)
    val out = EventBars.signalForwardArrays(bars, col("rn") % 25 === 0, 35)
    assert(out.schema == expected)
    val dirs = bars.withColumn("dir_0", lit(1)).withColumn("dir_1", lit(null).cast("int"))
    assert(EventBars.forwardArraysFor(dirs.filter(col("rn") % 7 === 0), bars, 40).schema ==
      StructType(expected.take(8) ++ Seq(StructField("dir_0", IntegerType, nullable = false),
        StructField("dir_1", IntegerType)) ++ expected.drop(8)))
  }

  test("k = 0 fails with the named error") {
    for (call <- Seq[() => DataFrame](
        () => EventBars.signalForwardArrays(edgeBars, edgeSignal, 0),
        () => EventBars.forwardArraysFor(edgeBars.filter(edgeSignal), edgeBars, 0))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage == "forward window k must be at least 1, got 0")
    }
  }
}
