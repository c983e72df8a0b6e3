package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational operator coverage (SURVEY.md §2.1–2.8): filtered scans,
  * conditional aggregates, exact quantiles, lag/lead/row_number windows,
  * equi/broadcast joins, parameter-grid fan-out, top-k, union, scalar
  * functions.
  *
  * Design: every query is a declarative DataFrame plan — filters/projections
  * push down to the parquet scan, small dimensions are broadcast, grids are
  * exploded literals (no driver-side loops) — so each plan scales to a
  * multi-executor cluster unchanged.
  *
  * Floating-point outputs are rounded on BOTH the Spark and DuckDB-oracle
  * side so that summation-order differences (which are inevitable across
  * engines/partitionings) cannot flip the comparison hash.
  */
object CoreQueries {

  /** Number of decimals for aggregate doubles: coarse enough to absorb
    * cross-engine summation-order noise, fine enough to be a real check. */
  private val R = 2

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------------------
  // q01 — filtered scan + projection (S1/P1-ish). Pushdown visible in explain:
  // PushedFilters on l_quantity/l_shipdate; ReadSchema limited to 5 columns.
  // Ref: sql/gen600_2down_template.sql:59-64 (filtered fact-table scan).
  def q01FilteredScan(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") <= to_timestamp(lit("1995-12-31 00:00:00")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q01Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_shipdate <= TIMESTAMP '1995-12-31 00:00:00'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------------------
  // q02 — grouped conditional aggregates: countIf/sumIf/avgIf family (A1/A2,
  // 847+212+92 uses in the reference; ref sql/gen600_2down_template.sql:232-250).
  // Partial (map-side) aggregation is native; one shuffle on the group keys.
  def q02CondAgg(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        count_if(col("l_discount") > 0.05).as("n_disc"),
        round(sum(when(col("l_discount") > 0.05, col("l_extendedprice"))), R).as("sum_disc_price"),
        round(avg(when(col("l_quantity") > 25, col("l_extendedprice"))), R).as("avg_hi_price"),
        round(min(col("l_extendedprice")), R).as("min_price"),
        round(max(col("l_extendedprice")), R).as("max_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q02Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
      |  round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS sum_disc_price,
      |  round(avg(l_extendedprice) FILTER (WHERE l_quantity > 25), 2) AS avg_hi_price,
      |  round(min(l_extendedprice), 2) AS min_price,
      |  round(max(l_extendedprice), 2) AS max_price
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q03 — exact inclusive percentile per group (A3: quantile(q); Spark
  // `percentile` and DuckDB `quantile_cont` share type-7 linear interpolation).
  def q03Quantile(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        // one buffer for both extendedprice percentiles (the array form
        // shares the per-group value counts-map; two scalar calls buffer
        // the column twice)
        percentile(col("l_extendedprice"), array(lit(0.5), lit(0.95))).as("pe"),
        round(percentile(col("l_quantity"), lit(0.25)), 4).as("q25_qty"))
      .select(col("l_returnflag"),
        round(element_at(col("pe"), 1), 4).as("p50"),
        round(element_at(col("pe"), 2), 4).as("p95"),
        col("q25_qty"))
      .orderBy(col("l_returnflag"))

  val q03Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      |  round(quantile_cont(l_quantity, 0.25), 4) AS q25_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------------
  // q04 — lag/lead/row_number windows (W1/W2/W3: 292+55+53 uses; ref
  // sql/gen01_single_feature.sql:38-43, gen111:65-68). Windows are
  // partitioned by event_type so the multi-series sweep parallelizes — the
  // reference's single-series ORDER BY becomes partitionBy+orderBy (§2.5 W9).
  def q04WindowLagLead(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
    val ev = Tables.events(spark, d)
    ev
      .select(col("event_id"), col("event_type"), Tables.tsUs(ev).as("ts_us"), col("value"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("prev2_value", lag(col("value"), 2).over(w))
      .withColumn("next_value", lead(col("value"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .orderBy(col("event_id"))
  }

  val q04Sql: String =
    """SELECT event_id, event_type, epoch_us(ts) AS ts_us, value,
      |  lag(value, 1) OVER w AS prev_value,
      |  lag(value, 2) OVER w AS prev2_value,
      |  lead(value, 1) OVER w AS next_value,
      |  row_number() OVER w AS rn
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q05 — multi-way equi join + aggregate (J6). nation is tiny → Catalyst
  // auto-broadcasts it (visible as BroadcastHashJoin); orders⋈customer is the
  // real shuffle. Ref: introspect.py:55-95.
  def q05JoinEqui(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val c = Tables.customer(spark, d)
    val n = Tables.nation(spark, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), R).as("total_price"))
      .orderBy(col("n_name"))
  }

  val q05Sql: String =
    """SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q06 — broadcast star join over two dimension hops (region→nation→customer).
  def q06BroadcastStar(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val n = Tables.nation(spark, d)
    val r = Tables.region(spark, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_cust"), round(avg(col("c_acctbal")), 4).as("avg_bal"))
      .orderBy(col("r_name"))
  }

  val q06Sql: String =
    """SELECT r_name, count(*) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q07 — parameter-grid fan-out (J3/J4: CROSS JOIN of a literal grid; ref
  // sql/gen200_triple_barrier.sql:172-189 "inline explode instead of cross
  // join"). The grid is an exploded literal array — a 3-row broadcast, no
  // shuffle added; at scale the same shape fans 434 barrier combos out over
  // signals.
  def q07GridFanout(spark: SparkSession, d: String): DataFrame = {
    val grid = spark.range(1).select(
      explode(array(lit(0.02), lit(0.05), lit(0.08))).as("thr"))
    Tables.lineitem(spark, d)
      .crossJoin(broadcast(grid))
      .groupBy(col("thr"))
      .agg(count_if(col("l_discount") >= col("thr")).as("n_ge"),
        round(sum(when(col("l_discount") >= col("thr"),
          col("l_extendedprice") * col("l_discount"))), R).as("disc_revenue"))
      .orderBy(col("thr"))
  }

  val q07Sql: String =
    """SELECT thr, count(*) FILTER (WHERE l_discount >= thr) AS n_ge,
      |  round(sum(l_extendedprice * l_discount) FILTER (WHERE l_discount >= thr), 2) AS disc_revenue
      |FROM lineitem CROSS JOIN
      |  (SELECT unnest(CAST([0.02, 0.05, 0.08] AS DOUBLE[])) AS thr) g
      |GROUP BY thr ORDER BY thr""".stripMargin

  // ---------------------------------------------------------------------------
  // q08 — top-k with deterministic tie-break (O2/O4; ref walk_forward.py:223-258).
  // TakeOrderedAndProject physical op: no full sort, per-partition heaps.
  def q08TopK(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), R).as("total_spent"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("total_spent").desc, col("o_custkey"))
      .limit(10)

  val q08Sql: String =
    """SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent, count(*) AS n_orders
      |FROM orders GROUP BY o_custkey
      |ORDER BY total_spent DESC, o_custkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------------
  // q09 — UNION ALL of labelled config branches (U1; ref
  // sql/gen01_single_feature.sql:71-215, 18 branches). unionByName keeps
  // the branches schema-aligned.
  def q09Union(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    def branch(name: String, pred: Column): DataFrame =
      li.filter(pred).agg(
        lit(name).as("combo_name"),
        count(lit(1)).as("signal_count"),
        round(avg(col("l_extendedprice")), R).as("avg_price"))
        .select(col("combo_name"), col("signal_count"), col("avg_price"))
    branch("hi_qty", col("l_quantity") > 40)
      .unionByName(branch("low_disc", col("l_discount") < 0.02))
      .unionByName(branch("ret_r", col("l_returnflag") === "R"))
      .orderBy(col("combo_name"))
  }

  val q09Sql: String =
    """SELECT * FROM (
      |  SELECT 'hi_qty' AS combo_name, count(*) AS signal_count,
      |         round(avg(l_extendedprice), 2) AS avg_price
      |  FROM lineitem WHERE l_quantity > 40
      |  UNION ALL
      |  SELECT 'low_disc', count(*), round(avg(l_extendedprice), 2)
      |  FROM lineitem WHERE l_discount < 0.02
      |  UNION ALL
      |  SELECT 'ret_r', count(*), round(avg(l_extendedprice), 2)
      |  FROM lineitem WHERE l_returnflag = 'R'
      |) ORDER BY combo_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q10 — scalar-function battery (§2.8: concat/lpad/cast, year(), CASE
  // ladder, nullif guard, least/greatest; ref gen720 barrier_id synthesis
  // sql/gen720_wf_2down_template.sql:123-125, gen200:254).
  def q10ScalarFuncs(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(
        col("o_orderkey"),
        concat(lit("o"), lpad(col("o_orderkey").cast("string"), 9, "0")).as("order_tag"),
        year(col("o_orderdate")).as("yr"),
        round(least(col("o_totalprice"), lit(100000.0)), R).as("capped"),
        round(greatest(col("o_totalprice") - 50000.0, lit(0.0)), R).as("excess"),
        when(col("o_orderstatus") === "F", lit("finished"))
          .when(col("o_orderstatus") === "O", lit("open"))
          .otherwise(lit("other")).as("status_label"),
        round(col("o_totalprice") / nullif(year(col("o_orderdate")) - lit(1995), lit(0)), 4)
          .as("per_yr"))
      .orderBy(col("o_orderkey"))

  val q10Sql: String =
    """SELECT o_orderkey,
      |  concat('o', lpad(CAST(o_orderkey AS VARCHAR), 9, '0')) AS order_tag,
      |  year(o_orderdate) AS yr,
      |  round(least(o_totalprice, 100000.0), 2) AS capped,
      |  round(greatest(o_totalprice - 50000.0, 0.0), 2) AS excess,
      |  CASE WHEN o_orderstatus = 'F' THEN 'finished'
      |       WHEN o_orderstatus = 'O' THEN 'open'
      |       ELSE 'other' END AS status_label,
      |  round(o_totalprice / nullif(year(o_orderdate) - 1995, 0), 4) AS per_yr
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q11 — last-N tail alignment (O2: ORDER BY ts DESC LIMIT N re-sorted ASC;
  // ref sql/gen720_wf_2down_template.sql:34-47). Implemented as a DESC
  // row_number filter so it stays distributed (no global limit collect).
  def q11LastNAlign(spark: SparkSession, d: String): DataFrame = {
    val wDesc = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val ev = Tables.events(spark, d)
    ev
      .withColumn("ts_us", Tables.tsUs(ev))
      .withColumn("rdesc", row_number().over(wDesc))
      .filter(col("rdesc") <= 100)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_tail"),
        round(sum(col("value")), 4).as("tail_value"),
        min(col("ts_us")).as("tail_start_us"))
      .orderBy(col("event_type"))
  }

  val q11Sql: String =
    """SELECT event_type, count(*) AS n_tail, round(sum(value), 4) AS tail_value,
      |  min(ts_us) AS tail_start_us
      |FROM (
      |  SELECT event_type, value, epoch_us(ts) AS ts_us,
      |    row_number() OVER (PARTITION BY event_type ORDER BY epoch_us(ts) DESC, event_id DESC) AS rdesc
      |  FROM events)
      |WHERE rdesc <= 100 GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // q12 — running (expanding) window aggregates (W4: count(*) OVER ROWS
  // UNBOUNDED PRECEDING warmup gate; ref gen111:47,96) + running sum.
  def q12RunningCount(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ev = Tables.events(spark, d)
    ev
      .filter(col("user_id") < 10)
      .select(col("event_id"), col("user_id"), Tables.tsUs(ev).as("ts_us"), col("value"))
      .withColumn("bar_count", count(lit(1)).over(w))
      .withColumn("running_value", round(sum(col("value")).over(w), 4))
      .orderBy(col("event_id"))
  }

  val q12Sql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
      |  count(*) OVER w AS bar_count,
      |  round(sum(value) OVER w, 4) AS running_value
      |FROM events WHERE user_id < 10
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q44 — scalar-subquery join (J5; ref sql/gen01_single_feature.sql:75-77:
  // countIf(x > (SELECT pct FROM percentiles))): a global aggregate
  // referenced per row. Catalyst rewrites the scalar subquery into a
  // broadcast join — written in SQL text to exercise that exact path.
  def q44ScalarSubquery(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  count_if(l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem_v)) AS n_above,
        |  round(avg(CASE WHEN l_extendedprice >
        |    (SELECT avg(l_extendedprice) FROM lineitem_v) THEN l_quantity END), 4)
        |    AS avg_qty_above
        |FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  val q44Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  count(*) FILTER (WHERE l_extendedprice >
      |    (SELECT avg(l_extendedprice) FROM lineitem)) AS n_above,
      |  round(avg(CASE WHEN l_extendedprice >
      |    (SELECT avg(l_extendedprice) FROM lineitem) THEN l_quantity END), 4)
      |    AS avg_qty_above
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------------
  // q52 — A11: multi-dimensional rollup in one pass — CUBE over
  // (returnflag, linestatus) with grouping_id disambiguating the 4 grouping
  // sets, plus DISTINCT aggregates (single- and multi-column). Spark expands
  // CUBE before aggregation, so it remains one shuffle on the expanded keys;
  // distinct aggregates add the standard two-phase expand. The HLL sketch
  // variant (approx_count_distinct) is covered by a golden spec instead —
  // its estimate is implementation-defined, so no cross-engine oracle can
  // hash-match it. Ref: the reference's per-dimension census queries
  // (sql/gen600 family runs one GROUP BY per cut; CUBE folds them into one).
  def q52CubeDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      // the CUBE×multi-DISTINCT rewrite expands every input row 12× before
      // the dedup aggregate; a single-file scan would feed that explosion
      // from 1-2 partitions, so spread it first (same class of fix as the
      // sweep fan-out — parallelism must be decided before the blow-up)
      .repartition(spark.sparkContext.defaultParallelism)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        // multi-column distinct on a bounded-cardinality pair: the dedup
        // lane collapses map-side (a near-unique pair like (partkey,
        // suppkey) would make this lane shuffle ~|rows| keys — at scale
        // that calls for approx_count_distinct's mergeable HLL instead)
        countDistinct(col("l_suppkey"), col("l_linenumber")).as("n_supp_line"),
        round(sum(col("l_quantity")), R).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_last,
        col("l_linestatus").asc_nulls_last)

  val q52Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  GROUPING(l_returnflag, l_linestatus) AS gid,
      |  count(*) AS n,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  count(DISTINCT (l_suppkey, l_linenumber)) AS n_supp_line,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin

  // ---------------------------------------------------------------------------
  // q57 — snowflake star: fact ⋈ three broadcast dimensions (part, supplier,
  // supplier→nation), margin census per (brand, supplier nation). One
  // shuffle total (the census groupBy): every dimension is broadcast, so
  // the fact table never moves for the joins — the shape a 100 TB fact
  // scan needs. Completes source coverage of the driver's TPC-H tables.
  def q57PartSupplierMargin(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    val p = Tables.part(spark, d)
    val s = Tables.supplier(spark, d)
    val n = Tables.nation(spark, d)
    // money columns are exact 2-decimal values, so the margin is computed
    // in integer 1e-4-dollar units and summed as BIGINT: partial-agg
    // summation order cannot perturb an integer sum, so the result is
    // bit-exact across engines and partitionings (625 output groups gave
    // double sums two rounding-boundary hits before this)
    val extC = round(col("l_extendedprice") * 100).cast("long")
    val discB = round(col("l_discount") * 100).cast("long")
    val qtyI = round(col("l_quantity")).cast("long")
    val retC = round(col("p_retailprice") * 100).cast("long")
    // part and supplier are SF-SCALED dimensions (TPC-H: SF x 200k /
    // SF x 10k rows) — a forced broadcast() overrides the size threshold
    // and would ship multi-GB relations (or exceed the 8 GB broadcast
    // limit) at the 100 TB regime. Let Catalyst size them: at bench SF
    // they still auto-broadcast, at scale they shuffle. nation is FIXED
    // (25 rows) and stays forced (r13 review).
    li.join(p, li("l_partkey") === p("p_partkey"))
      .join(s, li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(extC * (lit(100L) - discB) - retC * qtyI * 100)
          .cast("double") / 10000.0, 2).as("sum_margin"),
        round(sum(retC).cast("double") / count(lit(1)) / 100.0, 4).as("avg_retail"))
      .orderBy(col("p_brand"), col("n_name"))
  }

  val q57Sql: String =
    """SELECT p_brand, n_name, count(*) AS n,
      |  round(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |      * (100 - CAST(round(l_discount*100) AS BIGINT))
      |    - CAST(round(p_retailprice*100) AS BIGINT)
      |      * CAST(round(l_quantity) AS BIGINT) * 100)::DOUBLE / 10000.0, 2)
      |    AS sum_margin,
      |  round(sum(CAST(round(p_retailprice*100) AS BIGINT))::DOUBLE
      |    / count(*) / 100.0, 4) AS avg_retail
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY p_brand, n_name ORDER BY p_brand, n_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q80 — mergeable histogram quantile: the 100 TB replacement for the
  // per-group exact-percentile buffering that SCALE.md documents as the
  // engine's one concentration point (q03/q13 buffer every group value in
  // one task). Two bounded passes: (1) per-group [min, max]; (2) per-group
  // 4096-bin equi-width counts — bin counts are plain sums, so they
  // partial-aggregate map-side and MERGE across executors, and no task
  // ever holds a group's raw values. The quantile estimate interpolates
  // by rank inside the first bin whose cumulative count reaches
  // ceil(q·n): est = mn + (bin + (target − cum_prev)/cnt)·(mx − mn)/4096.
  // Deterministic integer bin math + one double interpolation → the
  // DuckDB oracle matches bit-for-bit before the final rounding.
  // HistQuantileSpec pins |hist − exact| ≤ one bin width.
  private val HistBins = 4096

  def q80HistogramQuantile(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").cast("double").as("v"))
    val bounds = li.groupBy(col("g"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"), count(lit(1)).as("n"))
    val binned = li.join(broadcast(bounds), "g")
      .withColumn("bin",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(lit(HistBins - 1L), floor((col("v") - col("mn"))
            / (col("mx") - col("mn")) * HistBins).cast("long"))))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("g")).orderBy(col("bin"))
    val cum = binned
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_prev", col("cum") - col("cnt"))
      .join(broadcast(bounds), "g")
    def est(q: Double) = {
      val target = ceil(lit(q) * col("n")).cast("long")
      cum.filter(col("cum") >= target)
        .groupBy(col("g"))
        .agg(min_by(
          struct(col("bin"), col("cum_prev"), col("cnt"),
            col("mn"), col("mx"), col("n")), col("bin")).as("s"))
        .select(col("g"),
          round(col("s.mn") + (col("s.bin").cast("double")
            + (ceil(lit(q) * col("s.n")).cast("double") - col("s.cum_prev"))
              / col("s.cnt"))
            * (col("s.mx") - col("s.mn")) / HistBins, 4).as(s"p${(q * 100).toInt}"))
    }
    bounds.select(col("g"), col("n"))
      .join(est(0.5), "g").join(est(0.9), "g").join(est(0.99), "g")
      .select(col("g").as("l_returnflag"), col("n"),
        col("p50"), col("p90"), col("p99"))
      .orderBy(col("l_returnflag"))
  }

  val q80Sql: String =
    s"""WITH li AS (
      |  SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS v FROM lineitem),
      |bounds AS (
      |  SELECT g, min(v) AS mn, max(v) AS mx, count(*) AS n FROM li GROUP BY g),
      |binned AS (
      |  SELECT li.g,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE least($HistBins - 1, CAST(floor((v - mn) / (mx - mn)
      |           * $HistBins) AS BIGINT)) END AS bin,
      |    count(*) AS cnt
      |  FROM li JOIN bounds USING (g) GROUP BY li.g, bin),
      |cum AS (
      |  SELECT b.g, bin, cnt, mn, mx, n,
      |    sum(cnt) OVER (PARTITION BY b.g ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY b.g ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS cum_prev
      |  FROM binned b JOIN bounds USING (g)),
      |est AS (
      |  SELECT g, q,
      |    min_by(mn + (bin::DOUBLE + (ceil(q * n) - cum_prev)::DOUBLE / cnt)
      |      * (mx - mn) / $HistBins, bin) AS e
      |  FROM cum, (SELECT unnest([0.5, 0.9, 0.99]) AS q)
      |  WHERE cum >= ceil(q * n)
      |  GROUP BY g, q)
      |SELECT g AS l_returnflag, any_value(n) AS n,
      |  round(min(CASE WHEN q = 0.5 THEN e END), 4) AS p50,
      |  round(min(CASE WHEN q = 0.9 THEN e END), 4) AS p90,
      |  round(min(CASE WHEN q = 0.99 THEN e END), 4) AS p99
      |FROM est JOIN bounds USING (g)
      |GROUP BY g ORDER BY g""".stripMargin

  // ---------------------------------------------------------------------------
  // q81 — sessionization: split each user's event stream into sessions at
  // >30-minute gaps (the canonical event-analytics operator), then census
  // session counts/lengths/durations per user cohort. One shuffle on
  // user_id; the session id is a running sum over the gap flags — the
  // same in-partition ordered scan every windowed query here uses, so at
  // 100 TB parallelism = #users and no state beyond the window frame.
  // Timestamps are compared in µs (Tables.tsUs), identically in DuckDB.
  def q81Sessionization(spark: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val ev0 = Tables.events(spark, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val sess = ev0
      .select(col("user_id"), Tables.tsUs(ev0).as("ts_us"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .withColumn("new_sess",
        (col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs).cast("long"))
      .withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
    // derived stats in EXACT integer math: per-session durations are whole
    // µs, i.e. exact decimal rationals — precisely the class where the two
    // engines' double-rounding implementations can split on a .5 boundary
    // (observed at sf0.1). Integer div never can.
    sess.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        expr("(1000 * sum(n_events)) div count(1)").as("avg_events_per_session_milli"),
        expr("sum(dur_us) div (1000 * count(1))").as("avg_session_ms"),
        expr("max(dur_us) div 1000").as("max_session_ms"))
      .orderBy(col("user_id"))
  }

  val q81Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us, event_id,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |           OR ts_us - lag(ts_us) OVER w > 30 * 60 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess0 AS (
      |  SELECT user_id, ts_us,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, sess_id, count(*) AS n_events,
      |    max(ts_us) - min(ts_us) AS dur_us
      |  FROM sess0 GROUP BY user_id, sess_id)
      |SELECT user_id,
      |  count(*) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST((1000 * sum(n_events)) // count(*) AS BIGINT)
      |    AS avg_events_per_session_milli,
      |  CAST(sum(dur_us) // (1000 * count(*)) AS BIGINT) AS avg_session_ms,
      |  CAST(max(dur_us) // 1000 AS BIGINT) AS max_session_ms
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q82 — ordered funnel analysis (view → click → purchase): for each
  // user, the earliest qualifying chain in strict time order, censused as
  // stage conversion counts. The chain is three conditional-min window
  // passes over ONE user-partitioned frame (min view ts → min click ts
  // after it → min purchase ts after that) — no self-joins, no explode,
  // so the 100 TB cost is one shuffle on user_id like q81. Ties at the
  // same µs resolve by event_id, both engines identically.
  def q82Funnel(spark: SparkSession, d: String): DataFrame = {
    val ev0 = Tables.events(spark, d)
    val ev = ev0.select(col("user_id"), Tables.tsUs(ev0).as("ts_us"),
      col("event_id"), col("event_type"))
    // three chained whole-partition window aggregates on the SAME user_id
    // partitioning — Catalyst plans them over one exchange, so the funnel
    // is one shuffle end-to-end and nothing user-cardinality-sized is ever
    // broadcast or collected
    val w = Window.partitionBy(col("user_id"))
    val c3 = ev
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts_us") > col("t_view"),
          col("ts_us"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts_us") > col("t_click"),
          col("ts_us"))).over(w))
      .groupBy(col("user_id"))
      .agg(any_value(col("t_view")).as("t_view"),
        any_value(col("t_click")).as("t_click"),
        any_value(col("t_purchase")).as("t_purchase"))
    c3.agg(
        count(lit(1)).as("n_users"),
        count(col("t_view")).as("n_viewed"),
        count(col("t_click")).as("n_clicked_after_view"),
        count(col("t_purchase")).as("n_purchased_after_click"),
        round(count(col("t_purchase")).cast("double")
          / nullif(count(col("t_view")).cast("double"), lit(0.0)), 6)
          .as("view_to_purchase_rate"),
        round(avg((col("t_purchase") - col("t_view")).cast("double") / 1e6), 4)
          .as("avg_funnel_sec"))
  }

  // q112 — q82's funnel under the SKEW-PROOF plan (closing the one
  // exposure r6's skew rehearsal left open: "the conditional-min chain is
  // order-dependent, so the two-phase rewrite does not apply directly").
  // It does decompose: each stage is an ASSOCIATIVE conditional min once
  // the previous stage's anchor is attached, so the funnel becomes three
  // map-side-combined groupBy aggregations chained by joins against the
  // (user-cardinality, broadcastable) stage frames. No window partitions
  // anywhere: a hot user's events partial-aggregate inside every map task
  // (combiners are the one skew mitigation that needs no re-keying), and
  // the stage joins are AQE-skew-splittable where windows are not. The
  // trade is three corpus scans vs q82's one-scan one-exchange form —
  // measured in SCALE.md; same oracle SQL as q82, bit-identical output.
  def q112FunnelMapside(spark: SparkSession, d: String): DataFrame = {
    val ev0 = Tables.events(spark, d)
    val ev = ev0.select(col("user_id"), Tables.tsUs(ev0).as("ts_us"),
      col("event_type"))
      .transform(StagingRoots.persist)
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("t_view"))
    val s2 = ev.join(s1, "user_id")
      .groupBy(col("user_id"))
      .agg(any_value(col("t_view")).as("t_view"),
        min(when(col("event_type") === "click" && col("ts_us") > col("t_view"),
          col("ts_us"))).as("t_click"))
    val s3 = ev.join(s2, "user_id")
      .groupBy(col("user_id"))
      .agg(any_value(col("t_view")).as("t_view"),
        any_value(col("t_click")).as("t_click"),
        min(when(col("event_type") === "purchase" && col("ts_us") > col("t_click"),
          col("ts_us"))).as("t_purchase"))
    val census = s3.agg(
      count(lit(1)).as("n_users"),
      count(col("t_view")).as("n_viewed"),
      count(col("t_click")).as("n_clicked_after_view"),
      count(col("t_purchase")).as("n_purchased_after_click"),
      round(count(col("t_purchase")).cast("double")
        / nullif(count(col("t_view")).cast("double"), lit(0.0)), 6)
        .as("view_to_purchase_rate"),
      round(avg((col("t_purchase") - col("t_view")).cast("double") / 1e6), 4)
        .as("avg_funnel_sec"))
    // ONE census row: materialize now and release the query-private
    // events cache — it backs only this query's three scans, and leaving
    // it resident pinned a corpus-sized projection for the JVM lifetime
    // outside the documented shared-frame pattern (r13 review)
    val row = census.collect()
    ev.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(row.toSeq), census.schema)
  }

  val q82Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      |  FROM events),
      |s1 AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view
      |  FROM ev GROUP BY user_id),
      |s2 AS (
      |  SELECT ev.user_id, any_value(t_view) AS t_view,
      |    min(CASE WHEN event_type = 'click' AND ts_us > t_view
      |        THEN ts_us END) AS t_click
      |  FROM ev JOIN s1 USING (user_id) GROUP BY ev.user_id),
      |s3 AS (
      |  SELECT ev.user_id, any_value(t_view) AS t_view,
      |    any_value(t_click) AS t_click,
      |    min(CASE WHEN event_type = 'purchase' AND ts_us > t_click
      |        THEN ts_us END) AS t_purchase
      |  FROM ev JOIN s2 USING (user_id) GROUP BY ev.user_id)
      |SELECT count(*) AS n_users,
      |  count(t_view) AS n_viewed,
      |  count(t_click) AS n_clicked_after_view,
      |  count(t_purchase) AS n_purchased_after_click,
      |  round(count(t_purchase)::DOUBLE
      |    / nullif(count(t_view)::DOUBLE, 0.0), 6) AS view_to_purchase_rate,
      |  round(avg((t_purchase - t_view)::DOUBLE / 1e6), 4) AS avg_funnel_sec
      |FROM s3""".stripMargin

  // ---------------------------------------------------------------------------
  // q85 — SKEW-PROOF two-phase sessionization: bit-identical OUTPUT to q81
  // (the oracle IS q81's SQL), different PLAN. q81 hash-partitions raw
  // events on user_id, so one hot user (a bot, a service account) is one
  // straggler task — and AQE does not split skewed WINDOW partitions the
  // way it splits skewed joins. Here phase 1 sessionizes within
  // (user_id, 6h-time-bucket) — the shuffle key carries the time axis, so
  // a user holding 10% of all events spreads over all the buckets it
  // spans — and phase 2 merges only boundary-straddling sub-sessions on a
  // frame that is SESSION-granular (orders of magnitude smaller than
  // events; the hot user's residual sequential cost is its session count,
  // not its event count). Merge correctness: sub-sessions within a bucket
  // are separated by > gap by construction, so the adjacent-pair gap chain
  // reproduces q81's splits exactly, and (n_events, min-start, max-end)
  // all merge associatively.
  def q85SessionizationTwoPhase(spark: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val bucketUs = 6L * 3600 * 1000 * 1000
    val ev0 = Tables.events(spark, d)
    val ev = ev0
      .select(col("user_id"), Tables.tsUs(ev0).as("ts_us"))
      .withColumn("bucket", expr(s"ts_us div ${bucketUs}L"))
    // phase 1: per-(user, bucket) sessionization — tie order within equal
    // ts is irrelevant to session membership (a 0 gap always merges)
    val wb = Window.partitionBy(col("user_id"), col("bucket")).orderBy(col("ts_us"))
    val sub = ev
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(wb))
      .withColumn("new_sub",
        (col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs).cast("long"))
      .withColumn("sub_id", sum(col("new_sub")).over(
        wb.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("bucket"), col("sub_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
    // phase 2: merge the gap chain over per-user SUB-SESSIONS (start_us is
    // unique per user: same-bucket subs are gap-separated, cross-bucket
    // starts lie in disjoint time ranges)
    val wu = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    val sess = sub
      .withColumn("prev_end", lag(col("end_us"), 1).over(wu))
      .withColumn("new_sess",
        (col("prev_end").isNull || col("start_us") - col("prev_end") > gapUs).cast("long"))
      .withColumn("sess_id", sum(col("new_sess")).over(
        wu.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(sum(col("n_events")).as("n_events"),
        (max(col("end_us")) - min(col("start_us"))).as("dur_us"))
    sess.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        expr("(1000 * sum(n_events)) div count(1)").as("avg_events_per_session_milli"),
        expr("sum(dur_us) div (1000 * count(1))").as("avg_session_ms"),
        expr("max(dur_us) div 1000").as("max_session_ms"))
      .orderBy(col("user_id"))
  }

  val all: Map[String, Q] = Map(
    "q81_sessionization" -> (q81Sessionization _),
    "q82_funnel" -> (q82Funnel _),
    "q112_funnel_mapside" -> (q112FunnelMapside _),
    "q85_sessionization_twophase" -> (q85SessionizationTwoPhase _),
    "q80_histogram_quantile" -> (q80HistogramQuantile _),
    "q44_scalar_subquery" -> (q44ScalarSubquery _),
    "q01_filtered_scan" -> (q01FilteredScan _),
    "q02_cond_agg" -> (q02CondAgg _),
    "q03_quantile" -> (q03Quantile _),
    "q04_window_lag_lead" -> (q04WindowLagLead _),
    "q05_join_equi" -> (q05JoinEqui _),
    "q06_broadcast_star" -> (q06BroadcastStar _),
    "q07_grid_fanout" -> (q07GridFanout _),
    "q08_topk" -> (q08TopK _),
    "q09_union" -> (q09Union _),
    "q10_scalar_funcs" -> (q10ScalarFuncs _),
    "q11_lastn_align" -> (q11LastNAlign _),
    "q12_running_count" -> (q12RunningCount _),
    "q52_cube_distinct" -> (q52CubeDistinct _),
    "q57_part_supplier_margin" -> (q57PartSupplierMargin _))

  val oracles: Map[String, String] = Map(
    "q81_sessionization" -> q81Sql,
    "q82_funnel" -> q82Sql,
    "q112_funnel_mapside" -> q82Sql,
    // same census, skew-proof plan — the oracle is deliberately q81's SQL
    "q85_sessionization_twophase" -> q81Sql,
    "q80_histogram_quantile" -> q80Sql,
    "q44_scalar_subquery" -> q44Sql,
    "q01_filtered_scan" -> q01Sql,
    "q02_cond_agg" -> q02Sql,
    "q03_quantile" -> q03Sql,
    "q04_window_lag_lead" -> q04Sql,
    "q05_join_equi" -> q05Sql,
    "q06_broadcast_star" -> q06Sql,
    "q07_grid_fanout" -> q07Sql,
    "q08_topk" -> q08Sql,
    "q09_union" -> q09Sql,
    "q10_scalar_funcs" -> q10Sql,
    "q11_lastn_align" -> q11Sql,
    "q12_running_count" -> q12Sql,
    "q52_cube_distinct" -> q52Sql,
    "q57_part_supplier_margin" -> q57Sql)
}
