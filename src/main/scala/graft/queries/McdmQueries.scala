package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** The gen720 MCDM ranking-experiment pack (scripts/
  * gen720_ranking_experiments.py, 832 LoC — the selection layer a
  * reference user runs over the WFO fold parquet) plus the gen800
  * stagnation-first ranking (scripts/gen800_rank.py:5-11) and the
  * rank_optimize objective layer (scripts/rank_optimize.py:39-88), all
  * restated as oracle-checked distributed queries.
  *
  * Shared data shape — the gen720 FOLD FRAME: the reference's
  * `{direction}_folds.parquet` keys fold-level metrics by (barrier_id,
  * symbol, formation, threshold, fold). The synthetic analog slices
  * `events` the same way: ranked unit `bid` = user_id % 24 (the
  * barrier-config axis), dimensions `sym` = event_type (the 5-symbol
  * axis), `fmt`/`thr` = two independent event_id bits (the formation /
  * threshold axes), folds = 4 contiguous index quartiles per series —
  * so every method ranks 24 barriers over 5×2×2×4 = 80 fold cells, the
  * exact (ranked-unit × dims × folds) geometry the reference's methods
  * consume.
  *
  * Scale shape: ONE windowed pass over the fact table builds the fold
  * frame (partitioned on the 480-series axis); every method after that
  * is column algebra / tiny grouped aggregates over the O(barriers ×
  * folds) frame, broadcast-joined where frames meet — the reference
  * does the same math in numpy over a collected fold parquet. At 100 TB
  * the fact scan dominates; the selection layer stays O(barriers).
  *
  * Cross-engine float discipline (the q68/q120 contract): fold metrics
  * are rounded at the source (4/6 dp), every aggregate whose summation
  * order differs across engines (entropy column sums, TOPSIS norms,
  * PROMETHEE flow sums) is rounded the moment it exists (10 dp), derived
  * weights at 12 dp, final scores at 6 dp — so both engines run
  * identical scalar expression trees over identical doubles, and
  * ORDER-dependent ranks (row_number on score DESC, bid) agree exactly.
  */
object McdmQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The 6-metric fold basis with benefit(+1)/cost(−1) types — the
    * FOLD_METRICS analog (gen720_ranking_experiments.py:49-50 uses 7
    * metrics with 2 cost columns; this basis keeps the same
    * benefit-majority + 2-cost structure over the metrics the engine's
    * fold frames already compute, q56/q58). */
  private val Metrics: Seq[(String, Int)] = Seq(
    ("pf", 1), ("sharpe", 1), ("win_rate", 1), ("total_ret", 1),
    ("maxdd", -1), ("vol", -1))
  private val MetricNames = Metrics.map(_._1)
  private val MetricTypes = Metrics.map(_._2).toArray

  /** Round-3 stability basis (`:55` STABILITY_METRICS — benefit-only). */
  private val StabilityMetrics = Seq("pf", "sharpe", "win_rate", "total_ret")

  /** The baseline the agreement census compares against:
    * equal_weight_topsis_3metric (`:134`, 2 benefit + 1 cost). */
  private val BaselineMetrics: Seq[(String, Int)] =
    Seq(("pf", 1), ("sharpe", 1), ("vol", -1))

  private val NBoot = 200 // `:586` n_bootstrap
  private val Seed = 42L // `:586` seed
  private val TopK = 10 // `:631` top-10 frequency
  // multiplicative integer hash standing in for numpy PCG64 (whose bit
  // stream is not reproducible in SQL): chosen(rep, slot) =
  // ((rep·F + slot + seed) · 2654435761) mod 2³² mod F — pinned
  // identically in both engines, which is what "seeded" buys
  private val HashMul = 2654435761L
  private val HashMod = 4294967296L

  private val NBid = 24 // barriers ranked (user_id % 24)
  private val NFolds = 4 // index-quartile folds per series

  // ---------------------------------------------------------------------------
  // The shared gen720 fold frame: per-(bid, sym, fmt, thr, fold) metrics.
  // Returns via lag within the (bid, sym, fmt, thr) series; fold = the
  // within-series index quartile; maxdd from the within-(series, fold)
  // running cum. Metric rounding: pf/win_rate 4 dp (the q56 E20 contract),
  // total_ret/sharpe/maxdd/vol 6 dp.

  /** What every pack query consumes: the fold frame staged once per
    * (JVM, corpus) — the reference reads `{direction}_folds.parquet`
    * from every method round the same way (McdmStaging). */
  private[graft] def foldFrame(spark: SparkSession, d: String): DataFrame =
    McdmStaging.folds(spark, d)

  /** The RAW one-fact-exchange builder (PlanShapeSpec pins this plan;
    * McdmStaging writes its output to the staged parquet). */
  private[graft] def foldFrameRaw(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val base = ev.select(
      concat(lit("b"), lpad((col("user_id") % NBid).cast("string"), 2, "0")).as("bid"),
      col("event_type").as("sym"),
      concat(lit("f"), (col("event_id") % 2).cast("string")).as("fmt"),
      concat(lit("t"), (expr("event_id div 2") % 2).cast("string")).as("thr"),
      Tables.tsUs(ev).as("ts_us"), col("event_id"), col("value"))
    val wS = Window.partitionBy(col("bid"), col("sym"), col("fmt"), col("thr"))
      .orderBy(col("ts_us"), col("event_id"))
    val rets = base
      .withColumn("prev", lag(col("value"), 1).over(wS))
      .filter(col("prev").isNotNull && col("prev") =!= 0.0)
      .withColumn("r", (col("value") - col("prev")) / col("prev"))
      .withColumn("idx", row_number().over(wS).cast("long") - 1)
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("bid"), col("sym"), col("fmt"), col("thr"))))
      .withColumn("fold", expr(s"($NFolds * idx) div n"))
    val wF = Window
      .partitionBy(col("bid"), col("sym"), col("fmt"), col("thr"), col("fold"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wins = sum(greatest(col("r"), lit(0.0)))
    val losses = sum(greatest(-col("r"), lit(0.0)))
    rets
      .withColumn("cum", sum(col("r")).over(wF))
      .withColumn("runmax", max(col("cum")).over(wF))
      .groupBy(col("bid"), col("sym"), col("fmt"), col("thr"), col("fold"))
      .agg(
        count(lit(1)).as("n"),
        round(when(losses === 0.0, when(wins > 0.0, lit(10.0)).otherwise(lit(null)))
          .otherwise(least(wins / losses, lit(10.0))), 4).as("pf"),
        round(count_if(col("r") > 0).cast("double") / count(lit(1)), 4).as("win_rate"),
        round(sum(col("r")), 6).as("total_ret"),
        round(coalesce(avg(col("r")) / nullif(stddev_samp(col("r")), lit(0.0)),
          lit(0.0)), 6).as("sharpe"),
        round(max(col("runmax") - col("cum")), 6).as("maxdd"),
        round(coalesce(stddev_samp(col("r")), lit(0.0)), 6).as("vol"))
      .withColumn("fold_key",
        concat_ws("|", col("sym"), col("fmt"), col("thr"), col("fold").cast("string")))
      // PERSISTED: every method chain drives several broadcast subtrees
      // (entropy bounds/colsums, TOPSIS norms/ideal), and each broadcast
      // materializes its subtree independently — uncached, the events
      // window pass re-ran per broadcast (measured: q135 16.8 s → the
      // fact scan ~10× over). The frame is O(barriers × fold cells)
      // (1,920 rows), so the cache is trivial; its owner (the staging
      // build or the query run) releases it.
      .transform(StagingRoots.persist)
  }

  /** DuckDB twin of [[foldFrame]] — `folds` is MATERIALIZED because the
    * census query reads it from six method chains (un-materialized, DuckDB
    * would replay the window pass per reference). */
  private val duckFoldsCte: String =
    s"""ev AS (
       |  SELECT 'b' || lpad((user_id % $NBid)::VARCHAR, 2, '0') AS bid,
       |    event_type AS sym,
       |    'f' || (event_id % 2)::VARCHAR AS fmt,
       |    't' || ((event_id // 2) % 2)::VARCHAR AS thr,
       |    epoch_us(ts) AS ts_us, event_id, value
       |  FROM events),
       |r0 AS (
       |  SELECT bid, sym, fmt, thr, ts_us, event_id,
       |    (value - prev) / prev AS r
       |  FROM (
       |    SELECT *, lag(value) OVER (PARTITION BY bid, sym, fmt, thr
       |      ORDER BY ts_us, event_id) AS prev
       |    FROM ev)
       |  WHERE prev IS NOT NULL AND prev <> 0),
       |ix AS (
       |  SELECT *, row_number() OVER (PARTITION BY bid, sym, fmt, thr
       |      ORDER BY ts_us, event_id) - 1 AS idx,
       |    count(*) OVER (PARTITION BY bid, sym, fmt, thr) AS n
       |  FROM r0),
       |fx AS (
       |  SELECT bid, sym, fmt, thr, ($NFolds * idx) // n AS fold,
       |    ts_us, event_id, r
       |  FROM ix),
       |cum0 AS (
       |  SELECT *, sum(r) OVER w AS cum
       |  FROM fx
       |  WINDOW w AS (PARTITION BY bid, sym, fmt, thr, fold
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |cums AS (
       |  SELECT *, max(cum) OVER w AS runmax
       |  FROM cum0
       |  WINDOW w AS (PARTITION BY bid, sym, fmt, thr, fold
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |folds AS MATERIALIZED (
       |  SELECT bid, sym, fmt, thr, fold,
       |    sym || '|' || fmt || '|' || thr || '|' || fold::VARCHAR AS fold_key,
       |    count(*) AS n,
       |    round(CASE WHEN sum(greatest(-r, 0.0)) = 0.0
       |      THEN CASE WHEN sum(greatest(r, 0.0)) > 0.0 THEN 10.0 END
       |      ELSE least(sum(greatest(r, 0.0)) / sum(greatest(-r, 0.0)), 10.0)
       |    END, 4) AS pf,
       |    round(count(*) FILTER (WHERE r > 0)::DOUBLE / count(*), 4) AS win_rate,
       |    round(sum(r), 6) AS total_ret,
       |    round(coalesce(avg(r) / nullif(stddev_samp(r), 0.0), 0.0), 6) AS sharpe,
       |    round(max(runmax - cum), 6) AS maxdd,
       |    round(coalesce(stddev_samp(r), 0.0), 6) AS vol
       |  FROM cums GROUP BY bid, sym, fmt, thr, fold)""".stripMargin

  // ---------------------------------------------------------------------------
  // Barrier medians (the `barrier_medians` shared infrastructure, `:98-105`):
  // per-bid median of each metric across ALL fold cells, then the
  // finite-row mask (`:252-254` — drop barriers with any non-finite
  // median). A constant rep column keys the generic per-group method
  // machinery (the bootstrap runs the same chains per resample rep).
  private def barrierMedians(folds: DataFrame): DataFrame = {
    val aggs = MetricNames.map(m =>
      round(expr(s"percentile($m, 0.5D)"), 8).as(s"med_$m"))
    folds.groupBy(col("bid")).agg(aggs.head, aggs.tail: _*)
      .filter(MetricNames.map(m => col(s"med_$m").isNotNull).reduce(_ && _))
      .withColumn("rep", lit(0L))
      // O(barriers) rows, read by every broadcast subtree downstream
      .transform(StagingRoots.persist)
  }

  private val duckMedCte: String = {
    val meds = MetricNames.map(m =>
      s"round(quantile_cont($m, 0.5), 8) AS med_$m").mkString(",\n    ")
    val mask = MetricNames.map(m => s"med_$m IS NOT NULL").mkString(" AND ")
    s"""med AS (
       |  SELECT bid,
       |    $meds
       |  FROM folds GROUP BY bid),
       |medf AS (SELECT *, 0 AS rep FROM med WHERE $mask)""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // Driver-scale method twins — the architecture call, stated plainly:
  // the DISTRIBUTED stages are the ones that touch fact data (the fold
  // frame's windowed events pass and the median/stat aggregations); the
  // method math over the resulting O(barriers) matrix is driver-side BY
  // THE REFERENCE'S DESIGN (its numpy layer — the eval/Ranking header's
  // documented contract, collected state bounded by barriers × reps,
  // never corpus). A fully-declarative first cut expressed each method
  // as 6-10 chained broadcast-joined aggregate frames; every broadcast
  // materializes its subtree as its own job, so the 200-rep bootstrap
  // and the 6-chain census were JOB-LATENCY-bound (37.6 s for q136 over
  // 4,800 rows — measured, sf0.1). The twins run the identical scalar
  // expression trees with the ORACLE CHAIN'S rounding points
  // (order-dependent sums 10 dp, weights 12 dp, scores 6 dp, Spark's
  // HALF_UP semantics), so engine-vs-oracle parity is unchanged.

  /** Spark round() semantics (BigDecimal.valueOf → HALF_UP — half away
    * from zero, like DuckDB's round), NaN/Inf passed through. */
  private def rd(v: Double, d: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(d, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The collected barrier-median matrix, bid-sorted (MetricNames column
    * order). O(barriers) rows by construction. */
  private def collectMedians(med: DataFrame): (Array[String], Array[Array[Double]]) = {
    val rows = med.orderBy(col("bid")).collect()
    (rows.map(_.getAs[String]("bid")),
      rows.map(r0 => MetricNames.map(m => r0.getAs[Double](s"med_$m")).toArray))
  }

  /** Entropy weights (`:213-240`) with the oracle chain's rounding
    * points: column sums and entropies 10 dp, weights 12 dp. */
  private def entropyWeightsPinned(matrix: Array[Array[Double]]): Array[Double] = {
    val n = matrix.length
    val m = MetricNames.size
    val mins = Array.tabulate(m)(j => matrix.map(_(j)).min)
    val maxs = Array.tabulate(m)(j => matrix.map(_(j)).max)
    val normed = matrix.map(row => Array.tabulate(m) { j =>
      val rng = maxs(j) - mins(j)
      (row(j) - mins(j)) / (if (rng == 0) 1.0 else rng) + 1e-10
    })
    val cs = Array.tabulate(m)(j => rd(normed.map(_(j)).sum, 10))
    val ent = Array.tabulate(m) { j =>
      rd(-normed.map { row =>
        val p = row(j) / cs(j); p * math.log(p)
      }.sum / math.log(n.toDouble), 10)
    }
    val tot = ent.map(1.0 - _).sum
    Array.tabulate(m)(j =>
      rd(if (tot == 0) 1.0 / m else (1.0 - ent(j)) / tot, 12))
  }

  /** TOPSIS (`topsis_rank`, eval/ranking.py:333-368) with the oracle
    * chain's rounding points: L2 norms 10 dp, closeness 6 dp. */
  private def topsisPinned(matrix: Array[Array[Double]], weights: Array[Double],
      types: Array[Int]): Array[Double] = {
    val m = weights.length
    val norms = Array.tabulate(m) { j =>
      val s = rd(math.sqrt(matrix.map(row => row(j) * row(j)).sum), 10)
      if (s == 0) 1.0 else s
    }
    val v = matrix.map(row => Array.tabulate(m)(j => row(j) / norms(j) * weights(j)))
    val ideal = Array.tabulate(m) { j =>
      val c = v.map(_(j)); if (types(j) == 1) c.max else c.min
    }
    val nadir = Array.tabulate(m) { j =>
      val c = v.map(_(j)); if (types(j) == 1) c.min else c.max
    }
    v.map { row =>
      val di = math.sqrt((0 until m).map(j =>
        (row(j) - ideal(j)) * (row(j) - ideal(j))).sum)
      val dn = math.sqrt((0 until m).map(j =>
        (row(j) - nadir(j)) * (row(j) - nadir(j))).sum)
      rd(if (di + dn == 0) 0.0 else dn / (di + dn), 6)
    }
  }

  /** rank = position under (score DESC, bid ASC) — row_number's order. */
  private def ranksFrom(bids: Array[String], scores: Array[Double]): Array[Int] = {
    val order = bids.indices.sortBy(i => (-scores(i), bids(i)))
    val rank = new Array[Int](bids.length)
    order.zipWithIndex.foreach { case (i, pos) => rank(i) = pos + 1 }
    rank
  }

  /** CTEs `${p}b/${p}n/${p}c/${p}e/${p}w` — entropy weights per rep from
    * `$src(rep, bid, med_*)`; the chain ends in `${p}w(rep, w_*)`. */
  private def entropySqlChain(p: String, src: String): String = {
    val mins = MetricNames.map(m =>
      s"min(med_$m) AS mn_$m, max(med_$m) AS mx_$m").mkString(", ")
    val nms = MetricNames.map(m =>
      s"(med_$m - mn_$m) / (CASE WHEN mx_$m - mn_$m = 0 THEN 1.0 " +
        s"ELSE mx_$m - mn_$m END) + 1e-10 AS nm_$m").mkString(",\n    ")
    val css = MetricNames.map(m => s"round(sum(nm_$m), 10) AS cs_$m").mkString(", ")
    val ents = MetricNames.map(m =>
      s"round(-sum((nm_$m / cs_$m) * ln(nm_$m / cs_$m)) / ln(any_value(nb)), 10)" +
        s" AS ent_$m").mkString(",\n    ")
    val tot = MetricNames.map(m => s"(1.0 - ent_$m)").mkString(" + ")
    val ws = MetricNames.map(m =>
      s"round(CASE WHEN $tot = 0 THEN ${1.0 / MetricNames.size} " +
        s"ELSE (1.0 - ent_$m) / ($tot) END, 12) AS w_$m").mkString(",\n    ")
    s"""${p}b AS (SELECT rep, $mins FROM $src GROUP BY rep),
       |${p}n AS (
       |  SELECT rep, bid,
       |    $nms
       |  FROM $src JOIN ${p}b USING (rep)),
       |${p}c AS (SELECT rep, $css, count(*)::DOUBLE AS nb FROM ${p}n GROUP BY rep),
       |${p}e AS (
       |  SELECT rep,
       |    $ents
       |  FROM ${p}n JOIN ${p}c USING (rep) GROUP BY rep),
       |${p}w AS (
       |  SELECT rep,
       |    $ws
       |  FROM ${p}e)""".stripMargin
  }

  // (the per-rep TOPSIS SQL generator below is the oracle's form; the
  // engine side runs topsisPinned over the collected matrix — see the
  // driver-twin note above)

  /** CTEs `${p}m/${p}v/${p}x/${p}s` — TOPSIS per rep over
    * `$medSrc(rep, bid, med_*)` weighted by `$wSrc(rep, w_*)`; ends in
    * `${p}s(rep, bid, score)`. */
  private def topsisSqlChain(p: String, medSrc: String, wSrc: String,
      metrics: Seq[(String, Int)]): String = {
    val names = metrics.map(_._1)
    val nrms = names.map(m =>
      s"round(sqrt(sum(med_$m * med_$m)), 10) AS nrm_$m").mkString(", ")
    val vs = names.map(m =>
      s"med_$m / (CASE WHEN nrm_$m = 0 THEN 1.0 ELSE nrm_$m END) * w_$m AS v_$m")
      .mkString(",\n    ")
    val bs = metrics.map { case (m, t) =>
      if (t == 1) s"max(v_$m) AS i_$m, min(v_$m) AS a_$m"
      else s"min(v_$m) AS i_$m, max(v_$m) AS a_$m"
    }.mkString(",\n    ")
    val di = names.map(m => s"(v_$m - i_$m) * (v_$m - i_$m)").mkString(" + ")
    val dn = names.map(m => s"(v_$m - a_$m) * (v_$m - a_$m)").mkString(" + ")
    s"""${p}m AS (SELECT rep, $nrms FROM $medSrc GROUP BY rep),
       |${p}v AS (
       |  SELECT rep, bid,
       |    $vs
       |  FROM $medSrc JOIN ${p}m USING (rep) JOIN $wSrc USING (rep)),
       |${p}x AS (
       |  SELECT rep,
       |    $bs
       |  FROM ${p}v GROUP BY rep),
       |${p}s AS (
       |  SELECT rep, bid,
       |    round(CASE WHEN sqrt($di) + sqrt($dn) = 0 THEN 0.0
       |      ELSE sqrt($dn) / (sqrt($di) + sqrt($dn)) END, 6) AS score
       |  FROM ${p}v JOIN ${p}x USING (rep))""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q131 — Round 1: entropy-weighted TOPSIS on fold-level barrier medians
  // (`:242-287`). Ranks over the 6-metric median matrix with
  // entropy-derived weights; output carries the medians the reference's
  // ranking entries embed (`:144-165`).
  def q131EntropyTopsis(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (bids, matrix) = collectMedians(barrierMedians(foldFrame(spark, d)))
    val scores = topsisPinned(matrix, entropyWeightsPinned(matrix), MetricTypes)
    val rank = ranksFrom(bids, scores)
    bids.indices.sortBy(rank(_)).map { i =>
      (bids(i), matrix(i)(0), matrix(i)(1), matrix(i)(2), matrix(i)(3),
        matrix(i)(4), matrix(i)(5), scores(i), rank(i))
    }.toDF("bid" +: MetricNames.map(m => s"med_$m") :+ "score" :+ "rank": _*)
  }

  val q131Sql: String = {
    val medCols = MetricNames.map(m => s"med_$m").mkString(", ")
    s"""WITH $duckFoldsCte,
       |$duckMedCte,
       |${entropySqlChain("e1", "medf")},
       |${topsisSqlChain("t1", "medf", "e1w", Metrics)}
       |SELECT bid, $medCols, score,
       |  row_number() OVER (ORDER BY score DESC, bid) AS rank
       |FROM medf JOIN t1s USING (rep, bid) ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q132 — Round 2: PROMETHEE-II net flows (`:295-404`): pairwise
  // differences of the type-adjusted median matrix through a linear
  // (Type V) preference function with q = 0, p = range/4 (range-0 columns
  // → p = 1), equal criterion weights; net flow = (Σ outgoing − Σ
  // incoming)/(n−1). The pairwise stage is the O(n²) self-join over the
  // O(barriers) frame — 24×23 pairs, the same driver-scale math the
  // reference does in numpy (the q71 knee precedent).
  /** PROMETHEE-II with the oracle chain's rounding points: pair-sum
    * flows 10 dp (the GROUP BY sums), φ± 10 dp, net flow 6 dp. Returns
    * (phi_plus, phi_minus, net) per row of `matrix`. */
  private def prometheePinned(matrix: Array[Array[Double]])
      : Array[(Double, Double, Double)] = {
    val n = matrix.length
    val m = MetricNames.size
    val ranges = Array.tabulate(m)(j => matrix.map(_(j)).max - matrix.map(_(j)).min)
    val p = ranges.map(r0 => if (r0 / 4.0 == 0.0) 1.0 else r0 / 4.0)
    val types = MetricTypes
    def pi(i: Int, k: Int): Double = {
      var s = 0.0
      var j = 0
      while (j < m) {
        val d0 = types(j) * (matrix(i)(j) - matrix(k)(j))
        s += math.min(1.0, math.max(0.0, d0 / p(j)))
        j += 1
      }
      s / m
    }
    Array.tabulate(n) { i =>
      var sp = 0.0; var sm = 0.0
      var k = 0
      while (k < n) {
        if (k != i) { sp += pi(i, k); sm += pi(k, i) }
        k += 1
      }
      val phiP = rd(rd(sp, 10) / (n - 1), 10)
      val phiM = rd(rd(sm, 10) / (n - 1), 10)
      (phiP, phiM, rd(phiP - phiM, 6))
    }
  }

  def q132Promethee(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (bids, matrix) = collectMedians(barrierMedians(foldFrame(spark, d)))
    val flows = prometheePinned(matrix)
    val rank = ranksFrom(bids, flows.map(_._3))
    bids.indices.sortBy(rank(_)).map { i =>
      (bids(i), rd(flows(i)._1, 6), rd(flows(i)._2, 6), flows(i)._3, rank(i))
    }.toDF("bid", "phi_plus", "phi_minus", "net_flow", "rank")
  }

  /** CTEs `${p}r/${p}p/${p}pl/${p}mi/${p}n/${p}f` ending in
    * `${p}f(rep, bid, phi_plus, phi_minus, net_flow)`. */
  private def prometheeSqlChain(p: String, src: String): String = {
    val rngs = MetricNames.map(m =>
      s"max(med_$m) - min(med_$m) AS rng_$m").mkString(", ")
    val terms = Metrics.map { case (m, t) =>
      s"least(1.0, greatest(0.0, (($t) * (a.med_$m - b.med_$m)) / " +
        s"(CASE WHEN rng_$m / 4.0 = 0 THEN 1.0 ELSE rng_$m / 4.0 END)))"
    }.mkString("\n      + ")
    s"""${p}r AS (SELECT rep, $rngs FROM $src GROUP BY rep),
       |${p}p AS (
       |  SELECT a.rep, a.bid AS abid, b.bid AS bbid,
       |    ($terms) / ${MetricNames.size}.0 AS pi
       |  FROM $src a JOIN $src b ON a.rep = b.rep AND a.bid <> b.bid
       |  JOIN ${p}r ON ${p}r.rep = a.rep),
       |${p}pl AS (SELECT rep, abid AS bid, round(sum(pi), 10) AS sp
       |  FROM ${p}p GROUP BY rep, abid),
       |${p}mi AS (SELECT rep, bbid AS bid, round(sum(pi), 10) AS sm
       |  FROM ${p}p GROUP BY rep, bbid),
       |${p}n AS (SELECT rep, count(*)::DOUBLE AS nb FROM $src GROUP BY rep),
       |${p}f AS (
       |  SELECT rep, bid,
       |    round(sp / (nb - 1), 10) AS phi_plus,
       |    round(sm / (nb - 1), 10) AS phi_minus,
       |    round(round(sp / (nb - 1), 10) - round(sm / (nb - 1), 10), 6) AS net_flow
       |  FROM ${p}pl JOIN ${p}mi USING (rep, bid) JOIN ${p}n USING (rep))""".stripMargin
  }

  val q132Sql: String =
    s"""WITH $duckFoldsCte,
       |$duckMedCte,
       |${prometheeSqlChain("p2", "medf")}
       |SELECT bid, round(phi_plus, 6) AS phi_plus, round(phi_minus, 6) AS phi_minus,
       |  net_flow,
       |  row_number() OVER (ORDER BY net_flow DESC, bid) AS rank
       |FROM p2f ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q133 — Round 3: stability-weighted composite (`:412-478`): per-barrier
  // median and std per stability metric, CV = std/|median| (capped at 10
  // when |median| ≤ 1e-10), raw = median × 1/(1+CV), min-max normalize per
  // metric across barriers (range ≤ 1e-10 → zeros), score = Σ normed. "A
  // consistent PF=1.08 beats a volatile PF=1.15."
  /** The distributed stat pass for round 3: per-bid median + sample std
    * of each stability metric (the ONE fact-derived aggregate; the
    * composite itself is driver-twin math). */
  private def stabilityStatFrame(folds: DataFrame): DataFrame = {
    val aggs = StabilityMetrics.flatMap(m => Seq(
      round(expr(s"percentile($m, 0.5D)"), 8).as(s"med_$m"),
      round(stddev_samp(col(m)), 8).as(s"sd_$m")))
    folds.groupBy(col("bid")).agg(aggs.head, aggs.tail: _*)
  }

  /** Composite scores with the oracle chain's rounding points: raw
    * 10 dp, normed 10 dp, score 6 dp; NaN scores dropped (the `:448`
    * finite mask). Returns (bid, s_*, score) bid-sorted. */
  private def stabilityPinned(st: Array[(String, Array[Double], Array[Double])])
      : Array[(String, Array[Double], Double)] = {
    val nm = StabilityMetrics.size
    val raw = st.map { case (_, med, sd) =>
      Array.tabulate(nm) { j =>
        val cv = if (math.abs(med(j)) > 1e-10) sd(j) / math.abs(med(j)) else 10.0
        rd(med(j) * (1.0 / (1.0 + cv)), 10)
      }
    }
    val mins = Array.tabulate(nm)(j => raw.map(_(j)).min)
    val maxs = Array.tabulate(nm)(j => raw.map(_(j)).max)
    st.indices.map { i =>
      val s = Array.tabulate(nm) { j =>
        val rng = maxs(j) - mins(j)
        rd(if (rng > 1e-10) (raw(i)(j) - mins(j)) / rng else 0.0, 10)
      }
      (st(i)._1, s, rd(s.sum, 6))
    }.filterNot(_._3.isNaN).toArray
  }

  private def collectStabilityStats(folds: DataFrame)
      : Array[(String, Array[Double], Array[Double])] =
    stabilityStatFrame(folds).orderBy(col("bid")).collect()
      // a NULL median/std propagates to a NULL score in the oracle (the
      // finite mask drops it); mirror by dropping the row here — getAs
      // would silently unbox NULL to 0.0 otherwise
      .filter(r0 => (0 until r0.length).forall(!r0.isNullAt(_)))
      .map { r0 =>
        (r0.getAs[String]("bid"),
          StabilityMetrics.map(m => r0.getAs[Double](s"med_$m")).toArray,
          StabilityMetrics.map(m => r0.getAs[Double](s"sd_$m")).toArray)
      }

  def q133StabilityRank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val scored = stabilityPinned(collectStabilityStats(foldFrame(spark, d)))
    val rank = ranksFrom(scored.map(_._1), scored.map(_._3))
    scored.indices.sortBy(rank(_)).map { i =>
      val (bid, s, score) = scored(i)
      (bid, s(0), s(1), s(2), s(3), score, rank(i))
    }.toDF("bid" +: StabilityMetrics.map(m => s"s_$m") :+ "score" :+ "rank": _*)
  }

  /** CTEs `${p}st/${p}raw/${p}b/${p}nm/${p}f` ending in
    * `${p}f(bid, s_*, score)`. */
  private def stabilitySqlChain(p: String): String = {
    val sm = StabilityMetrics
    val sts = sm.map(m =>
      s"round(quantile_cont($m, 0.5), 8) AS med_$m, " +
        s"round(stddev_samp($m), 8) AS sd_$m").mkString(",\n    ")
    val raws = sm.map(m =>
      s"round(med_$m * (1.0 / (1.0 + CASE WHEN abs(med_$m) > 1e-10 " +
        s"THEN sd_$m / abs(med_$m) ELSE 10.0 END)), 10) AS raw_$m")
      .mkString(",\n    ")
    val bs = sm.map(m => s"min(raw_$m) AS mn_$m, max(raw_$m) AS mx_$m").mkString(", ")
    val nms = sm.map(m =>
      s"round(CASE WHEN mx_$m - mn_$m > 1e-10 " +
        s"THEN (raw_$m - mn_$m) / (mx_$m - mn_$m) ELSE 0.0 END, 10) AS s_$m")
      .mkString(",\n    ")
    val sumExpr = sm.map(m => s"s_$m").mkString(" + ")
    s"""${p}st AS (
       |  SELECT bid,
       |    $sts
       |  FROM folds GROUP BY bid),
       |${p}raw AS (
       |  SELECT bid,
       |    $raws
       |  FROM ${p}st),
       |${p}b AS (SELECT $bs FROM ${p}raw),
       |${p}nm AS (
       |  SELECT bid,
       |    $nms
       |  FROM ${p}raw, ${p}b),
       |${p}f AS (
       |  SELECT bid, ${sm.map(m => s"s_$m").mkString(", ")},
       |    round($sumExpr, 6) AS score
       |  FROM ${p}nm
       |  WHERE round($sumExpr, 6) IS NOT NULL)""".stripMargin
  }

  val q133Sql: String = {
    val sCols = StabilityMetrics.map(m => s"s_$m").mkString(", ")
    s"""WITH $duckFoldsCte,
       |${stabilitySqlChain("s3")}
       |SELECT bid, $sCols, score,
       |  row_number() OVER (ORDER BY score DESC, bid) AS rank
       |FROM s3f ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q134 — Round 4: cross-consistency / universality (`:486-578`): per
  // (barrier, dimension value) median PF, fraction of dimension values
  // with median PF > 1 per barrier across the symbol / formation /
  // threshold axes, score = geometric mean of the three fractions with
  // an 1e-6 zero clamp (`:539-540`).
  private def universalityFrom(folds: DataFrame): DataFrame = {
    def frac(dim: String, alias: String): DataFrame =
      folds.groupBy(col("bid"), col(dim))
        .agg(round(expr("percentile(pf, 0.5D)"), 8).as("pm"))
        .withColumn("above1",
          when(col("pm").isNotNull, (col("pm") > 1.0).cast("int")))
        .groupBy(col("bid"))
        .agg((sum(col("above1")).cast("double") / count(col("above1"))).as(alias))
    frac("sym", "symbol_fraction")
      .join(frac("fmt", "formation_fraction"), "bid")
      .join(frac("thr", "threshold_fraction"), "bid")
      .withColumn("score", round(cbrt(
        greatest(col("symbol_fraction"), lit(1e-6)) *
          greatest(col("formation_fraction"), lit(1e-6)) *
          greatest(col("threshold_fraction"), lit(1e-6))), 6))
  }

  def q134Universality(spark: SparkSession, d: String): DataFrame =
    universalityFrom(foldFrame(spark, d))
      // partitionless rank window: O(barriers) frame, bounded
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("bid"))))
      .select(col("bid"),
        round(col("symbol_fraction"), 6).as("symbol_fraction"),
        round(col("formation_fraction"), 6).as("formation_fraction"),
        round(col("threshold_fraction"), 6).as("threshold_fraction"),
        col("score"), col("rank"))
      .orderBy(col("rank"))

  /** CTEs ending in `${p}f(bid, symbol_fraction, formation_fraction,
    * threshold_fraction, score)`. */
  private def universalitySqlChain(p: String): String = {
    def fracCte(name: String, dim: String): String =
      s"""${p}$name AS (
         |  SELECT bid, sum(above1)::DOUBLE / count(above1) AS frac
         |  FROM (
         |    SELECT bid, CASE WHEN pm IS NOT NULL
         |      THEN CASE WHEN pm > 1.0 THEN 1 ELSE 0 END END AS above1
         |    FROM (SELECT bid, $dim, round(quantile_cont(pf, 0.5), 8) AS pm
         |          FROM folds GROUP BY bid, $dim))
         |  GROUP BY bid)""".stripMargin
    s"""${fracCte("sy", "sym")},
       |${fracCte("fm", "fmt")},
       |${fracCte("th", "thr")},
       |${p}f AS (
       |  SELECT s.bid, s.frac AS symbol_fraction, f.frac AS formation_fraction,
       |    t.frac AS threshold_fraction,
       |    round(cbrt(greatest(s.frac, 1e-6) * greatest(f.frac, 1e-6)
       |      * greatest(t.frac, 1e-6)), 6) AS score
       |  FROM ${p}sy s JOIN ${p}fm f ON f.bid = s.bid
       |  JOIN ${p}th t ON t.bid = s.bid)""".stripMargin
  }

  val q134Sql: String =
    s"""WITH $duckFoldsCte,
       |${universalitySqlChain("u4")}
       |SELECT bid, round(symbol_fraction, 6) AS symbol_fraction,
       |  round(formation_fraction, 6) AS formation_fraction,
       |  round(threshold_fraction, 6) AS threshold_fraction, score,
       |  row_number() OVER (ORDER BY score DESC, bid) AS rank
       |FROM u4f ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q135 — Round 5: bootstrap rank stability (`:586-668`): resample fold
  // ids with replacement NBoot times (the reference filters with `is_in`,
  // so a rep's sample is the DISTINCT set of drawn fold ids — reproduced
  // exactly), rerun entropy-weighted TOPSIS per rep on the resampled
  // per-barrier medians, count top-10 appearances, score = frequency.
  // The resample RNG is the pinned multiplicative hash (seed 42 folded
  // in) — identical in both engines; numpy's PCG64 bit stream is not
  // SQL-reproducible and the method's semantics don't depend on it.
  /** The distributed half of round 5: the deterministic resample join +
    * per-(rep, bid) median aggregation — one fan-out join and one
    * groupBy over the fold frame, yielding the O(reps × barriers)
    * resampled-median frame the per-rep method math consumes. */
  private[graft] def repMedianRaw(spark: SparkSession, folds: DataFrame): DataFrame = {
    val fk = folds.select(col("fold_key")).distinct()
      // partitionless index window: O(fold cells) frame (80 rows), bounded
      .withColumn("fidx",
        row_number().over(Window.orderBy(col("fold_key"))).cast("long") - 1)
    val fc = fk.agg(count(lit(1)).as("f"))
    val chosen = spark.range(NBoot).select(col("id").as("rep"))
      .crossJoin(fk.select(col("fidx").as("slot")))
      .crossJoin(broadcast(fc))
      .select(col("rep"),
        (((col("rep") * col("f") + col("slot") + lit(Seed)) * lit(HashMul))
          % lit(HashMod) % col("f")).as("cidx"))
      .distinct()
    val rs = chosen.join(broadcast(fk), chosen("cidx") === fk("fidx"))
      .select(col("rep"), col("fold_key"))
      .join(folds, "fold_key")
    val mAggs = MetricNames.map(m =>
      round(expr(s"percentile($m, 0.5D)"), 8).as(s"med_$m"))
    rs.groupBy(col("rep"), col("bid")).agg(mAggs.head, mAggs.tail: _*)
      .filter(MetricNames.map(m => col(s"med_$m").isNotNull).reduce(_ && _))
  }

  /** Per-bid top-10 counts over the NBoot reps (driver twin of the
    * per-rep entropy-TOPSIS chains — 200 × (24×6) matrices, trivially
    * driver-scale). Reads the STAGED resample-median frame, so the three
    * consumers (q135/q136/q139) share one resample pass per corpus. A
    * rep with fewer than 3 finite-median barriers is skipped entirely
    * (run_round5's `finite_mask.sum() < 3 → continue`); the freq
    * denominator stays NBoot, as in the reference. */
  private def bootstrapCounts(spark: SparkSession, d: String)
      : Array[(String, Long)] = {
    val rows = McdmStaging.repMedians(spark, d)
      .orderBy(col("rep"), col("bid")).collect()
    val counts = scala.collection.mutable.Map.empty[String, Long]
    rows.groupBy(_.getAs[Long]("rep")).foreach { case (_, repRows) =>
      val bids = repRows.map(_.getAs[String]("bid"))
      if (bids.length >= 3) {
        val matrix = repRows.map(r0 =>
          MetricNames.map(m => r0.getAs[Double](s"med_$m")).toArray)
        val scores = topsisPinned(matrix, entropyWeightsPinned(matrix), MetricTypes)
        bids.indices.sortBy(i => (-scores(i), bids(i))).take(TopK)
          .foreach(i => counts(bids(i)) = counts.getOrElse(bids(i), 0L) + 1)
      }
    }
    val allBids = foldFrame(spark, d).select(col("bid")).distinct()
      .collect().map(_.getString(0)).sorted
    allBids.map(b => b -> counts.getOrElse(b, 0L))
  }

  def q135BootstrapRank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val counted = bootstrapCounts(spark, d)
    val bids = counted.map(_._1)
    val order = bids.indices.sortBy(i => (-counted(i)._2, bids(i)))
    val rank = new Array[Int](bids.length)
    order.zipWithIndex.foreach { case (i, pos) => rank(i) = pos + 1 }
    bids.indices.sortBy(rank(_)).map { i =>
      (bids(i), counted(i)._2, rd(counted(i)._2 / NBoot.toDouble, 6), rank(i))
    }.toDF("bid", "top10_count", "freq", "rank")
  }

  /** CTEs ending in `${p}out(bid, top10_count, freq, rank)`. */
  private def bootstrapSqlChain(p: String): String = {
    val meds = MetricNames.map(m =>
      s"round(quantile_cont($m, 0.5), 8) AS med_$m").mkString(",\n    ")
    val mask = MetricNames.map(m => s"med_$m IS NOT NULL").mkString(" AND ")
    s"""${p}fk AS (
       |  SELECT fold_key, row_number() OVER (ORDER BY fold_key) - 1 AS fidx
       |  FROM (SELECT DISTINCT fold_key FROM folds)),
       |${p}fc AS (SELECT count(*) AS f FROM ${p}fk),
       |${p}ch AS (
       |  SELECT DISTINCT rep,
       |    ((rep * f + fidx + $Seed) * $HashMul) % $HashMod % f AS cidx
       |  FROM (SELECT unnest(range($NBoot)) AS rep), ${p}fk, ${p}fc),
       |${p}rs AS (
       |  SELECT c.rep, fo.*
       |  FROM ${p}ch c JOIN ${p}fk k ON k.fidx = c.cidx
       |  JOIN folds fo ON fo.fold_key = k.fold_key),
       |${p}md AS (
       |  SELECT rep, bid,
       |    $meds
       |  FROM ${p}rs GROUP BY rep, bid),
       |${p}m0 AS (SELECT * FROM ${p}md WHERE $mask),
       |${p}mf AS (
       |  -- run_round5's degenerate-rep skip: a rep with fewer than 3
       |  -- finite-median barriers is dropped entirely (finite_mask.sum()
       |  -- < 3 -> continue); freq keeps the NBoot denominator
       |  SELECT * FROM ${p}m0
       |  WHERE rep IN (SELECT rep FROM ${p}m0 GROUP BY rep HAVING count(*) >= 3)),
       |${entropySqlChain(s"${p}e", s"${p}mf")},
       |${topsisSqlChain(s"${p}t", s"${p}mf", s"${p}ew", Metrics)},
       |${p}rk AS (
       |  SELECT rep, bid,
       |    row_number() OVER (PARTITION BY rep ORDER BY score DESC, bid) AS rnk
       |  FROM ${p}ts),
       |${p}ct AS (
       |  SELECT bid, count(*) AS top10_count
       |  FROM ${p}rk WHERE rnk <= $TopK GROUP BY bid),
       |${p}out AS (
       |  SELECT b.bid, coalesce(c.top10_count, 0) AS top10_count,
       |    round(coalesce(c.top10_count, 0) / $NBoot.0, 6) AS freq,
       |    row_number() OVER (ORDER BY coalesce(c.top10_count, 0) DESC, b.bid)
       |      AS rank
       |  FROM (SELECT DISTINCT bid FROM folds) b
       |  LEFT JOIN ${p}ct c ON c.bid = b.bid)""".stripMargin
  }

  val q135Sql: String =
    s"""WITH $duckFoldsCte,
       |${bootstrapSqlChain("q5")}
       |SELECT bid, top10_count, freq, rank FROM q5out ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q136 — the rank-agreement census every gen720 round emits
  // (`compare_to_baseline`, `:108-142` + the cross-round matrix
  // `:676-742`): per method vs the equal-weight 3-metric TOPSIS baseline
  // — Kendall tau (tie-free rankings, so tau-b ≡ (C−D)/n₀), Spearman rho
  // (the closed form over rank permutations), top-10 Jaccard, rank-1
  // agreement. eval/Ranking.kendallTau is the library twin (golden-
  // pinned); here the census itself is oracle-checked.
  /** The six rank maps (baseline first) the agreement censuses compare —
    * one shared fold frame across the chains (each is a different
    * grouping of the same 1,920-cell frame, read from the per-corpus
    * staged parquet; the bootstrap chain reads the staged resample
    * medians the same way — McdmStaging). */
  private def methodRankMaps(spark: SparkSession, d: String)
      : Seq[(String, Map[String, Int])] = {
    val folds = foldFrame(spark, d)
    val (bids, matrix) = collectMedians(barrierMedians(folds))
    def rankMap(bs: Array[String], scores: Array[Double]): Map[String, Int] = {
      val r0 = ranksFrom(bs, scores)
      bs.indices.map(i => bs(i) -> r0(i)).toMap
    }
    // baseline: equal-weight TOPSIS over the (pf, sharpe, vol) columns
    val baseIdx = BaselineMetrics.map { case (m, _) => MetricNames.indexOf(m) }
    val base3 = matrix.map(row => baseIdx.map(row(_)).toArray)
    val stab = stabilityPinned(collectStabilityStats(folds))
    val univ = universalityFrom(folds).orderBy(col("bid")).collect()
      .map(r0 => (r0.getAs[String]("bid"), r0.getAs[Double]("score")))
    val boot = bootstrapCounts(spark, d)
    Seq(
      ("baseline_topsis", rankMap(bids, topsisPinned(base3,
        Array.fill(3)(1.0 / 3), BaselineMetrics.map(_._2).toArray))),
      ("bootstrap_stability",
        rankMap(boot.map(_._1), boot.map(_._2.toDouble))),
      ("cross_consistency", rankMap(univ.map(_._1), univ.map(_._2))),
      ("entropy_topsis",
        rankMap(bids, topsisPinned(matrix, entropyWeightsPinned(matrix), MetricTypes))),
      ("promethee_ii", rankMap(bids, prometheePinned(matrix).map(_._3))),
      ("stability_weighted", rankMap(stab.map(_._1), stab.map(_._3))))
  }

  /** (tau, rho, top10 jaccard, rank1 agreement) between two rank maps
    * over their common ids — `compare_to_baseline`'s stats with the
    * oracle's rounding (4 dp). */
  private def agreementStats(a: Map[String, Int], b: Map[String, Int])
      : (Double, Double, Double, Int) = {
    val common = a.keySet.intersect(b.keySet).toSeq.sorted
    val n = common.size.toDouble
    var sd2 = 0.0; var cd = 0.0; var np = 0L
    var inter = 0; var uni = 0
    common.foreach { k =>
      val dr = a(k) - b(k)
      sd2 += dr.toDouble * dr
      val t10a = a(k) <= 10; val t10b = b(k) <= 10
      if (t10a && t10b) inter += 1
      if (t10a || t10b) uni += 1
    }
    for (i <- common.indices; j <- (i + 1) until common.size) {
      cd += math.signum((a(common(i)) - a(common(j))).toDouble) *
        math.signum((b(common(i)) - b(common(j))).toDouble)
      np += 1
    }
    val rank1 = common.exists(k => a(k) == 1 && b(k) == 1)
    (rd(cd / np, 4), rd(1.0 - 6.0 * sd2 / (n * (n * n - 1.0)), 4),
      rd(inter.toDouble / uni, 4), if (rank1) 1 else 0)
  }

  def q136RankAgreement(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val maps = methodRankMaps(spark, d)
    val baseline = maps.head._2
    maps.tail.map { case (name, rm) =>
      val (tau, rho, jac, r1) = agreementStats(rm, baseline)
      (name, tau, rho, jac, r1)
    }.sortBy(_._1)
      .toDF("method", "kendall_tau", "spearman_rho", "top10_jaccard",
        "rank1_agreement")
  }

  /** The CTE stack shared by the two agreement censuses (q136/q139):
    * fold frame → all six method chains → per-method rank relations
    * `rk_base(bid, rb)` and `tg(method, bid, rnk)`. */
  private val duckCensusCtes: String = {
    val blw = BaselineMetrics.map { case (m, _) =>
      s"${1.0 / 3} AS w_$m" }.mkString(", ")
    s"""$duckFoldsCte,
       |$duckMedCte,
       |b0w AS (SELECT DISTINCT rep, $blw FROM medf),
       |${topsisSqlChain("b0", "medf", "b0w", BaselineMetrics)},
       |${entropySqlChain("e1", "medf")},
       |${topsisSqlChain("t1", "medf", "e1w", Metrics)},
       |${prometheeSqlChain("p2", "medf")},
       |${stabilitySqlChain("s3")},
       |${universalitySqlChain("u4")},
       |${bootstrapSqlChain("q5")},
       |rk_base AS (SELECT bid,
       |  row_number() OVER (ORDER BY score DESC, bid) AS rb FROM b0s),
       |tg AS (
       |  SELECT 'bootstrap_stability' AS method, bid, rank AS rnk FROM q5out
       |  UNION ALL SELECT 'cross_consistency', bid,
       |    row_number() OVER (ORDER BY score DESC, bid) FROM u4f
       |  UNION ALL SELECT 'entropy_topsis', bid,
       |    row_number() OVER (ORDER BY score DESC, bid) FROM t1s
       |  UNION ALL SELECT 'promethee_ii', bid,
       |    row_number() OVER (ORDER BY net_flow DESC, bid) FROM p2f
       |  UNION ALL SELECT 'stability_weighted', bid,
       |    row_number() OVER (ORDER BY score DESC, bid) FROM s3f)""".stripMargin
  }

  val q136Sql: String = {
    s"""WITH $duckCensusCtes,
       |mb AS (
       |  SELECT tg.method, tg.bid, tg.rnk, b.rb
       |  FROM tg JOIN rk_base b ON b.bid = tg.bid),
       |a1 AS (
       |  SELECT method, count(*)::DOUBLE AS n,
       |    sum((rnk - rb) * (rnk - rb))::DOUBLE AS sd2,
       |    count(*) FILTER (WHERE rnk <= 10 AND rb <= 10)::DOUBLE AS inter,
       |    count(*) FILTER (WHERE rnk <= 10 OR rb <= 10)::DOUBLE AS uni,
       |    max(CASE WHEN rnk = 1 AND rb = 1 THEN 1 ELSE 0 END) AS rank1_agreement
       |  FROM mb GROUP BY method),
       |a2 AS (
       |  SELECT x.method,
       |    round(sum(sign((x.rnk - y.rnk)::DOUBLE) * sign((x.rb - y.rb)::DOUBLE))
       |      / count(*), 4) AS kendall_tau
       |  FROM mb x JOIN mb y ON x.method = y.method AND x.bid < y.bid
       |  GROUP BY x.method)
       |SELECT a1.method, kendall_tau,
       |  round(1.0 - 6.0 * sd2 / (n * (n * n - 1.0)), 4) AS spearman_rho,
       |  round(inter / uni, 4) AS top10_jaccard, rank1_agreement
       |FROM a1 JOIN a2 ON a2.method = a1.method ORDER BY a1.method""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q139 — the cross-round comparison MATRIX (`run_cross_round_comparison`,
  // `:676-742`): pairwise Kendall tau / Spearman rho / top-10 Jaccard
  // across ALL rankings INCLUDING round 0 (the baseline) — the
  // cross_round_comparison.json artifact every gen720 run emits. q136 is
  // the per-round method-vs-baseline census; this is the full 6×6 upper
  // triangle (15 pairs).
  def q139RankMatrix(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val maps = methodRankMaps(spark, d)
    (for {
      i <- maps.indices
      j <- (i + 1) until maps.size
    } yield {
      val (tau, rho, jac, _) = agreementStats(maps(i)._2, maps(j)._2)
      (maps(i)._1, maps(j)._1, tau, rho, jac)
    }).sortBy(t => (t._1, t._2))
      .toDF("method_a", "method_b", "kendall_tau", "spearman_rho",
        "top10_jaccard")
  }

  val q139Sql: String =
    s"""WITH $duckCensusCtes,
       |tg2 AS (
       |  SELECT 'baseline_topsis' AS method, bid, rb AS rnk FROM rk_base
       |  UNION ALL SELECT method, bid, rnk FROM tg),
       |pm AS (
       |  SELECT x.method AS method_a, y.method AS method_b, x.bid,
       |    x.rnk AS ra, y.rnk AS rbb
       |  FROM tg2 x JOIN tg2 y ON x.bid = y.bid AND x.method < y.method),
       |a1 AS (
       |  SELECT method_a, method_b, count(*)::DOUBLE AS n,
       |    sum((ra - rbb) * (ra - rbb))::DOUBLE AS sd2,
       |    count(*) FILTER (WHERE ra <= 10 AND rbb <= 10)::DOUBLE AS inter,
       |    count(*) FILTER (WHERE ra <= 10 OR rbb <= 10)::DOUBLE AS uni
       |  FROM pm GROUP BY method_a, method_b),
       |a2 AS (
       |  SELECT x.method_a, x.method_b,
       |    round(sum(sign((x.ra - y.ra)::DOUBLE) * sign((x.rbb - y.rbb)::DOUBLE))
       |      / count(*), 4) AS kendall_tau
       |  FROM pm x JOIN pm y ON x.method_a = y.method_a
       |    AND x.method_b = y.method_b AND x.bid < y.bid
       |  GROUP BY x.method_a, x.method_b)
       |SELECT a1.method_a, a1.method_b, kendall_tau,
       |  round(1.0 - 6.0 * sd2 / (n * (n * n - 1.0)), 4) AS spearman_rho,
       |  round(inter / uni, 4) AS top10_jaccard
       |FROM a1 JOIN a2 ON a2.method_a = a1.method_a AND a2.method_b = a1.method_b
       |ORDER BY a1.method_a, a1.method_b""".stripMargin

  // ---------------------------------------------------------------------------
  // q137 — gen800 stagnation-first ranking (scripts/gen800_rank.py:5-11,
  // 85-93): rank by underwater_ratio ASC (least total time underwater),
  // tie-break max_underwater_bars ASC (shortest longest-stagnation),
  // after the PF > 1 / n ≥ 30 / Omega > 1 gates; top 50. Underwater =
  // bars below the running equity peak; the longest run is the classic
  // gaps-and-islands grouping. On the 50-config grid (the reference
  // ranks its sweep jsonl); omega is the UNCAPPED gain/loss ratio (NULL
  // on zero losses → gated out, the reference's `omega is None` skip)
  // so the two gate columns stay distinct.
  def q137StagnationRank(spark: SparkSession, d: String): DataFrame = {
    val wC = Window.partitionBy(col("cfg")).orderBy(col("ts_us"), col("event_id"))
    val wF = wC.rowsBetween(Window.unboundedPreceding, 0)
    val rows = RankingQueries.cfgReturns(spark, d)
      .withColumn("cum", sum(col("r")).over(wF))
      .withColumn("runmax", max(col("cum")).over(wF))
      .withColumn("uw", (col("runmax") > col("cum")).cast("int"))
      .withColumn("idx", row_number().over(wC).cast("long"))
    val maxRun = rows.filter(col("uw") === 1)
      .withColumn("grp", col("idx") -
        row_number().over(Window.partitionBy(col("cfg")).orderBy(col("idx"))))
      .groupBy(col("cfg"), col("grp")).agg(count(lit(1)).as("len"))
      .groupBy(col("cfg")).agg(max(col("len")).as("max_underwater_bars"))
    val wins = sum(greatest(col("r"), lit(0.0)))
    val losses = sum(greatest(-col("r"), lit(0.0)))
    val base = rows.groupBy(col("cfg")).agg(
      count(lit(1)).as("n_trades"),
      round(sum(col("uw")).cast("double") / count(lit(1)), 6).as("underwater_ratio"),
      round(when(losses === 0.0, when(wins > 0.0, lit(10.0)).otherwise(lit(null)))
        .otherwise(least(wins / losses, lit(10.0))), 4).as("pf"),
      round(wins / nullif(losses, lit(0.0)), 4).as("omega"),
      round(count_if(col("r") > 0).cast("double") / count(lit(1)), 4).as("win_rate"))
    base.join(maxRun, Seq("cfg"), "left")
      .na.fill(0L, Seq("max_underwater_bars"))
      .filter(col("n_trades") >= 30 && col("pf") > 1.0 && col("omega") > 1.0)
      // partitionless rank window: O(nConfigs) gated frame, bounded
      .withColumn("rank", row_number().over(Window.orderBy(
        col("underwater_ratio"), col("max_underwater_bars"), col("cfg"))))
      .filter(col("rank") <= 50)
      .select(col("rank"), col("cfg"), col("max_underwater_bars"),
        col("underwater_ratio"), col("pf"), col("omega"), col("n_trades"),
        col("win_rate"))
      .orderBy(col("rank"))
  }

  val q137Sql: String =
    s"""WITH ${RankingQueries.duckCfgRets},
       |cum0 AS (
       |  SELECT cfg, ts_us, event_id, r, sum(r) OVER w AS cum
       |  FROM rets
       |  WINDOW w AS (PARTITION BY cfg ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |cums AS (
       |  SELECT *, max(cum) OVER w AS runmax,
       |    row_number() OVER (PARTITION BY cfg ORDER BY ts_us, event_id) AS idx
       |  FROM cum0
       |  WINDOW w AS (PARTITION BY cfg ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |flags AS (
       |  SELECT cfg, idx, r, CASE WHEN runmax > cum THEN 1 ELSE 0 END AS uw
       |  FROM cums),
       |runs AS (
       |  SELECT cfg, idx - row_number() OVER (PARTITION BY cfg ORDER BY idx) AS grp
       |  FROM flags WHERE uw = 1),
       |mr AS (
       |  SELECT cfg, max(len) AS max_underwater_bars
       |  FROM (SELECT cfg, grp, count(*) AS len FROM runs GROUP BY cfg, grp)
       |  GROUP BY cfg),
       |base AS (
       |  SELECT cfg, count(*) AS n_trades,
       |    round(sum(uw)::DOUBLE / count(*), 6) AS underwater_ratio,
       |    round(CASE WHEN sum(greatest(-r, 0.0)) = 0.0
       |      THEN CASE WHEN sum(greatest(r, 0.0)) > 0.0 THEN 10.0 END
       |      ELSE least(sum(greatest(r, 0.0)) / sum(greatest(-r, 0.0)), 10.0)
       |    END, 4) AS pf,
       |    round(sum(greatest(r, 0.0)) / nullif(sum(greatest(-r, 0.0)), 0.0), 4)
       |      AS omega,
       |    round(count(*) FILTER (WHERE r > 0)::DOUBLE / count(*), 4) AS win_rate
       |  FROM flags GROUP BY cfg),
       |g AS (
       |  SELECT base.cfg, n_trades, underwater_ratio, pf, omega, win_rate,
       |    coalesce(mr.max_underwater_bars, 0) AS max_underwater_bars
       |  FROM base LEFT JOIN mr ON mr.cfg = base.cfg
       |  WHERE n_trades >= 30 AND pf > 1.0 AND omega > 1.0)
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY underwater_ratio,
       |      max_underwater_bars, cfg) AS rank,
       |    cfg, max_underwater_bars, underwater_ratio, pf, omega, n_trades,
       |    win_rate
       |  FROM g)
       |WHERE rank <= 50 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q138 — the rank_optimize objective layer (scripts/rank_optimize.py:
  // 39-88) evaluated on a FIXED uniform cutoff grid over the q124
  // percentile machinery: per tightening level, survivor count, average
  // survivor percentile, binding-metric count (metrics whose relaxation
  // to 100 grows the intersection — run_ranking_with_cutoffs'
  // n_binding_metrics), and the four single-objective values
  // (max_survivors_min_cutoff, quality_at_target_n with target 10,
  // tightest_nonempty, diversity_reward). eval/Ranking.searchCutoffs is
  // the seeded-search twin (Optuna's TPE is an external stochastic
  // sampler; the objectives are the reference semantics).
  private val CutoffLevels = Seq(100, 80, 60, 40, 20, 10, 5)
  private val TargetN = 10 // config.RANK_TARGET_N

  /** The uniform-cutoff grid frame shared by q138 and q140: per
    * tightening level, survivor count, average survivor percentile and
    * the per-metric relaxed counts over the q124 percentile machinery. */
  private def cutoffGridFrame(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val m = RankingQueries.cfgMetrics(spark, d)
    val nAll = m.select(count(lit(1)).cast("double").as("n_cfg"))
    def pct(v: Column, higherIsBetter: Boolean): Column = {
      val key = if (higherIsBetter) v.asc else v.desc
      // partitionless rank windows BY CONSTRUCTION: the O(nConfigs)
      // metric frame (50 rows), never fact data — the q124 contract
      val avgRank = rank().over(Window.orderBy(key)).cast("double") +
        (count(lit(1)).over(Window.partitionBy(v)).cast("double") - 1.0) / 2.0
      round(avgRank / col("n_cfg") * 100.0, 4)
    }
    val ranked = m.crossJoin(broadcast(nAll))
      .withColumn("p_omega", pct(col("omega"), higherIsBetter = true))
      .withColumn("p_sr", pct(col("sr"), higherIsBetter = true))
      .withColumn("p_win", pct(col("win_rate"), higherIsBetter = true))
      .withColumn("p_maxdd", pct(col("maxdd"), higherIsBetter = false))
      .select(col("cfg"), col("p_omega"), col("p_sr"), col("p_win"), col("p_maxdd"),
        least(col("p_omega"), col("p_sr"), col("p_win"), col("p_maxdd")).as("min_all"),
        least(col("p_sr"), col("p_win"), col("p_maxdd")).as("mx_omega"),
        least(col("p_omega"), col("p_win"), col("p_maxdd")).as("mx_sr"),
        least(col("p_omega"), col("p_sr"), col("p_maxdd")).as("mx_win"),
        least(col("p_omega"), col("p_sr"), col("p_win")).as("mx_maxdd"))
    def surv(c: Column): Column = c >= lit(100.0) - col("cutoff_pct")
    CutoffLevels.toDF("cutoff_pct").crossJoin(ranked)
      .groupBy(col("cutoff_pct"))
      .agg(
        count(when(surv(col("min_all")), 1)).as("n_intersection"),
        round(coalesce(avg(when(surv(col("min_all")),
          (col("p_omega") + col("p_sr") + col("p_win") + col("p_maxdd")) / 4.0)),
          lit(0.0)), 4).as("avg_percentile"),
        count(when(surv(col("mx_omega")), 1)).as("rx_omega"),
        count(when(surv(col("mx_sr")), 1)).as("rx_sr"),
        count(when(surv(col("mx_win")), 1)).as("rx_win"),
        count(when(surv(col("mx_maxdd")), 1)).as("rx_maxdd"))
  }

  def q138RankObjectives(spark: SparkSession, d: String): DataFrame = {
    val nb = Seq("rx_omega", "rx_sr", "rx_win", "rx_maxdd")
      .map(c => (col(c) > col("n_intersection")).cast("int")).reduce(_ + _)
    cutoffGridFrame(spark, d)
      .withColumn("n_binding",
        when(col("cutoff_pct") < 100, nb).otherwise(lit(0)))
      .select(col("cutoff_pct"), col("n_intersection"), col("avg_percentile"),
        col("n_binding"),
        round(when(col("n_intersection") === 0, 0.0)
          .otherwise(col("n_intersection") / col("cutoff_pct").cast("double")), 6)
          .as("obj_survivors_per_cutoff"),
        round(when(col("n_intersection") < TargetN,
          col("avg_percentile") * (col("n_intersection") / lit(TargetN.toDouble)))
          .otherwise(col("avg_percentile")), 6).as("obj_quality_at_target"),
        when(col("n_intersection") === 0, 0.0)
          .otherwise(lit(400.0) - lit(4.0) * col("cutoff_pct"))
          .as("obj_tightest_nonempty"),
        round(when(col("n_intersection") === 0 || col("cutoff_pct") >= 100, 0.0)
          .otherwise(col("n_intersection") *
            (col("n_binding").cast("double") / 4.0)), 6).as("obj_diversity"))
      .orderBy(col("cutoff_pct").desc)
  }

  /** CTEs through `agg(cutoff_pct, n_intersection, avg_percentile,
    * rx_*)` — the cutoff-grid stack shared by the q138 and q140
    * oracles. */
  private val duckCutoffGridCtes: String =
    s"""${RankingQueries.duckCfgMetrics},
       |nn AS (SELECT count(*)::DOUBLE AS n_cfg FROM m),
       |pct AS (
       |  SELECT cfg,
       |    round((rank() OVER (ORDER BY omega ASC)
       |      + (count(*) OVER (PARTITION BY omega) - 1) / 2.0) / n_cfg * 100.0, 4)
       |      AS p_omega,
       |    round((rank() OVER (ORDER BY sr ASC)
       |      + (count(*) OVER (PARTITION BY sr) - 1) / 2.0) / n_cfg * 100.0, 4)
       |      AS p_sr,
       |    round((rank() OVER (ORDER BY win_rate ASC)
       |      + (count(*) OVER (PARTITION BY win_rate) - 1) / 2.0) / n_cfg * 100.0, 4)
       |      AS p_win,
       |    round((rank() OVER (ORDER BY maxdd DESC)
       |      + (count(*) OVER (PARTITION BY maxdd) - 1) / 2.0) / n_cfg * 100.0, 4)
       |      AS p_maxdd
       |  FROM m, nn),
       |mins AS (
       |  SELECT cfg, p_omega, p_sr, p_win, p_maxdd,
       |    least(p_omega, p_sr, p_win, p_maxdd) AS min_all,
       |    least(p_sr, p_win, p_maxdd) AS mx_omega,
       |    least(p_omega, p_win, p_maxdd) AS mx_sr,
       |    least(p_omega, p_sr, p_maxdd) AS mx_win,
       |    least(p_omega, p_sr, p_win) AS mx_maxdd
       |  FROM pct),
       |cuts AS (SELECT unnest([${CutoffLevels.mkString(", ")}]) AS cutoff_pct),
       |agg AS (
       |  SELECT c.cutoff_pct,
       |    count(*) FILTER (WHERE min_all >= 100.0 - c.cutoff_pct)
       |      AS n_intersection,
       |    round(coalesce(avg((p_omega + p_sr + p_win + p_maxdd) / 4.0)
       |      FILTER (WHERE min_all >= 100.0 - c.cutoff_pct), 0.0), 4)
       |      AS avg_percentile,
       |    count(*) FILTER (WHERE mx_omega >= 100.0 - c.cutoff_pct) AS rx_omega,
       |    count(*) FILTER (WHERE mx_sr >= 100.0 - c.cutoff_pct) AS rx_sr,
       |    count(*) FILTER (WHERE mx_win >= 100.0 - c.cutoff_pct) AS rx_win,
       |    count(*) FILTER (WHERE mx_maxdd >= 100.0 - c.cutoff_pct) AS rx_maxdd
       |  FROM cuts c CROSS JOIN mins GROUP BY c.cutoff_pct)""".stripMargin

  val q138Sql: String =
    s"""WITH $duckCutoffGridCtes,
       |obj AS (
       |  SELECT cutoff_pct, n_intersection, avg_percentile,
       |    CASE WHEN cutoff_pct < 100 THEN
       |      (CASE WHEN rx_omega > n_intersection THEN 1 ELSE 0 END
       |       + CASE WHEN rx_sr > n_intersection THEN 1 ELSE 0 END
       |       + CASE WHEN rx_win > n_intersection THEN 1 ELSE 0 END
       |       + CASE WHEN rx_maxdd > n_intersection THEN 1 ELSE 0 END)
       |    ELSE 0 END AS n_binding
       |  FROM agg)
       |SELECT cutoff_pct, n_intersection, avg_percentile, n_binding,
       |  round(CASE WHEN n_intersection = 0 THEN 0.0
       |    ELSE n_intersection / cutoff_pct::DOUBLE END, 6)
       |    AS obj_survivors_per_cutoff,
       |  round(CASE WHEN n_intersection < $TargetN
       |    THEN avg_percentile * (n_intersection / $TargetN.0)
       |    ELSE avg_percentile END, 6) AS obj_quality_at_target,
       |  CASE WHEN n_intersection = 0 THEN 0.0
       |    ELSE 400.0 - 4.0 * cutoff_pct END AS obj_tightest_nonempty,
       |  round(CASE WHEN n_intersection = 0 OR cutoff_pct >= 100 THEN 0.0
       |    ELSE n_intersection * (n_binding / 4.0) END, 6) AS obj_diversity
       |FROM obj ORDER BY cutoff_pct DESC""".stripMargin

  // ---------------------------------------------------------------------------
  // q140 — rank_optimize's pareto_efficiency lane (`:141-223`): the
  // multi-objective triple (maximize survivors, maximize avg quality,
  // minimize mean cutoff) evaluated on the deterministic uniform-cutoff
  // grid — the reproducible stand-in for NSGA-II's sampled population
  // (the sampler is an external stochastic library; the pinned semantics
  // are the objective TRIPLE, the non-dominated front, the
  // threshold-free TOPSIS ranking of the front with equal weights and
  // types (↑,↑,↓) — Issue #28 — and the knee annotation, ε = 0.125, the
  // q71 kneeDetect pairing).
  /** eval/Ranking.kneeDetect with the oracle chain's rounding points
    * (r15 ADVICE): mu (the min tradeoff ratio), its mean and its
    * population sd are rounded at 10 dp before the `mu > mean + 2·sd`
    * boundary test — order-dependent aggregates on both sides of an
    * exact comparison, so both engines must reach it from identical
    * doubles (the file's standing discipline). dist/sacrifice/gain use
    * the SQL chain's multiply form, not math.pow. */
  private def kneeSetPinned(matrix: Array[Array[Double]], types: Array[Int],
      epsilon: Double = 0.125): Set[Int] = {
    val n = matrix.length
    if (n < 3) return Set.empty
    val m = matrix.head.length
    val f = matrix.map(r0 => Array.tabulate(m)(j =>
      if (types(j) == 1) -r0(j) else r0(j)))
    val mins = Array.tabulate(m)(j => f.map(_(j)).min)
    val maxs = Array.tabulate(m)(j => f.map(_(j)).max)
    val ranges = Array.tabulate(m) { j =>
      val r0 = maxs(j) - mins(j); if (r0 == 0) 1.0 else r0
    }
    val fn = f.map(r0 => Array.tabulate(m)(j => (r0(j) - mins(j)) / ranges(j)))
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt((0 until m).map(j => (a(j) - b(j)) * (a(j) - b(j))).sum)
    val mu = Array.tabulate(n) { i =>
      var neighbors = (0 until n).filter(k => k != i && dist(fn(i), fn(k)) <= epsilon)
      if (neighbors.isEmpty) neighbors = (0 until n).filter(_ != i)
      val tradeoffs = neighbors.map { k =>
        var sacrifice = 0.0; var gain = 0.0
        var j = 0
        while (j < m) {
          val d0 = fn(k)(j) - fn(i)(j)
          if (d0 > 0) sacrifice += d0 else gain -= d0
          j += 1
        }
        if (gain == 0) Double.NaN else sacrifice / gain
      }.filterNot(_.isNaN)
      if (tradeoffs.isEmpty) Double.NegativeInfinity else rd(tradeoffs.min, 10)
    }
    val finite = mu.filter(v => !v.isInfinite && !v.isNaN)
    if (finite.isEmpty) return Set.empty
    // sd around the UNROUNDED mean (stddev_pop's own definition), then
    // both aggregates rounded where they exist
    val mean0 = finite.sum / finite.length
    val am = rd(mean0, 10)
    val sm = rd(math.sqrt(finite.map(v => (v - mean0) * (v - mean0)).sum
      / finite.length), 10)
    mu.indices.filter(i => mu(i).isFinite && mu(i) > am + 2 * sm).toSet
  }

  def q140ParetoFront(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val grid = cutoffGridFrame(spark, d)
      .select(col("cutoff_pct"), col("n_intersection"), col("avg_percentile"))
      .orderBy(col("cutoff_pct")).collect()
      .map(r0 => (r0.getAs[Int]("cutoff_pct"),
        r0.getAs[Long]("n_intersection"), r0.getAs[Double]("avg_percentile")))
    def dominates(a: (Int, Long, Double), b: (Int, Long, Double)): Boolean =
      a._2 >= b._2 && a._3 >= b._3 && a._1 <= b._1 &&
        (a._2 > b._2 || a._3 > b._3 || a._1 < b._1)
    val front = grid.filter(p => !grid.exists(o => dominates(o, p)))
    val matrix = front.map(p => Array(p._2.toDouble, p._3, p._1.toDouble))
    val scores = topsisPinned(matrix, Array.fill(3)(1.0 / 3), Array(1, 1, -1))
    val knees = kneeSetPinned(matrix, Array(1, 1, -1))
    val order = front.indices.sortBy(i => (-scores(i), front(i)._1))
    val rank = new Array[Int](front.length)
    order.zipWithIndex.foreach { case (i, pos) => rank(i) = pos + 1 }
    front.indices.sortBy(rank(_)).map { i =>
      (front(i)._1, front(i)._2, front(i)._3, front(i)._1.toDouble,
        scores(i), if (knees(i)) 1 else 0, rank(i))
    }.toDF("cutoff_pct", "n_survivors", "avg_quality", "mean_cutoff",
      "topsis_score", "is_knee", "rank")
  }

  val q140Sql: String = {
    val pfMetrics = Seq(("ns", 1), ("aq", 1), ("mc", -1))
    val w3 = 1.0 / 3
    def rng(i: Int) = s"(CASE WHEN x$i - m$i = 0 THEN 1.0 ELSE x$i - m$i END)"
    s"""WITH $duckCutoffGridCtes,
       |front AS (
       |  SELECT cutoff_pct, n_intersection AS ns, avg_percentile AS aq,
       |    cutoff_pct::DOUBLE AS mc
       |  FROM agg a
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM agg b
       |    WHERE b.n_intersection >= a.n_intersection
       |      AND b.avg_percentile >= a.avg_percentile
       |      AND b.cutoff_pct <= a.cutoff_pct
       |      AND (b.n_intersection > a.n_intersection
       |        OR b.avg_percentile > a.avg_percentile
       |        OR b.cutoff_pct < a.cutoff_pct))),
       |pft AS (
       |  SELECT 0 AS rep, cutoff_pct AS bid, ns::DOUBLE AS med_ns,
       |    aq AS med_aq, mc AS med_mc
       |  FROM front),
       |pfw AS (SELECT DISTINCT rep, $w3 AS w_ns, $w3 AS w_aq, $w3 AS w_mc
       |  FROM pft),
       |${topsisSqlChain("pf", "pft", "pfw", pfMetrics)},
       |kf AS (SELECT bid, -med_ns AS f1, -med_aq AS f2, med_mc AS f3 FROM pft),
       |kb AS (
       |  SELECT min(f1) AS m1, max(f1) AS x1, min(f2) AS m2, max(f2) AS x2,
       |    min(f3) AS m3, max(f3) AS x3
       |  FROM kf),
       |kn AS (
       |  SELECT bid,
       |    (f1 - m1) / ${rng(1)} AS g1,
       |    (f2 - m2) / ${rng(2)} AS g2,
       |    (f3 - m3) / ${rng(3)} AS g3
       |  FROM kf, kb),
       |kp AS (
       |  SELECT a.bid AS ab,
       |    sqrt((b.g1 - a.g1) * (b.g1 - a.g1) + (b.g2 - a.g2) * (b.g2 - a.g2)
       |      + (b.g3 - a.g3) * (b.g3 - a.g3)) AS dist,
       |    greatest(b.g1 - a.g1, 0.0) + greatest(b.g2 - a.g2, 0.0)
       |      + greatest(b.g3 - a.g3, 0.0) AS sac,
       |    greatest(a.g1 - b.g1, 0.0) + greatest(a.g2 - b.g2, 0.0)
       |      + greatest(a.g3 - b.g3, 0.0) AS gain
       |  FROM kn a JOIN kn b ON a.bid <> b.bid),
       |kh AS (
       |  SELECT ab, max(CASE WHEN dist <= 0.125 THEN 1 ELSE 0 END) AS has
       |  FROM kp GROUP BY ab),
       |km AS (
       |  SELECT ab AS bid, round(min(sac / gain), 10) AS mu
       |  FROM kp JOIN kh USING (ab)
       |  WHERE (dist <= 0.125 OR has = 0) AND gain > 0
       |  GROUP BY ab),
       |ks AS (SELECT round(avg(mu), 10) AS am, round(stddev_pop(mu), 10) AS sm
       |  FROM km)
       |SELECT f.cutoff_pct, f.ns AS n_survivors, f.aq AS avg_quality,
       |  f.mc AS mean_cutoff, s.score AS topsis_score,
       |  CAST(mu IS NOT NULL AND mu > am + 2.0 * sm AS INT) AS is_knee,
       |  row_number() OVER (ORDER BY s.score DESC, f.cutoff_pct) AS rank
       |FROM front f JOIN pfs s ON s.bid = f.cutoff_pct
       |LEFT JOIN km ON km.bid = f.cutoff_pct, ks
       |ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q141 — gen720 best risk-adjusted barriers across formations
  // (scripts/gen720_best_barriers.py:30-95): TWO-LEVEL median
  // aggregation (folds → per-(formation, barrier, symbol, threshold)
  // medians with summed trades → per-(formation, barrier)
  // medians-of-medians + cross-asset consistency = fraction of asset
  // cells with PF > 1), then the reference's GRADUATED filter cascade —
  // strict (PF > 1.05, XA > 0.6, trades > 500), relaxed (PF > 1.0,
  // XA > 0.5, trades > 500), else unfiltered top (trades > 100) — the
  // first nonempty tier wins; sort by the risk-adjusted median
  // (sharpe — the omega-analog in this basis) descending, top 30. The
  // tier pick is data-dependent in the reference too; both engines
  // resolve it identically from the same aggregates. Level-2 medians
  // round at 10 dp (inputs are 8 dp — their midpoints have 9 decimals,
  // the r15 boundary rule one level up).
  def q141BestBarriers(spark: SparkSession, d: String): DataFrame = {
    val folds = foldFrame(spark, d)
    def med(c: String, dp: Int) = round(expr(s"percentile($c, 0.5D)"), dp)
    val perAsset = folds.groupBy(col("fmt"), col("bid"), col("sym"), col("thr"))
      .agg(sum(col("n")).as("n_trades"),
        med("pf", 8).as("pf"), med("sharpe", 8).as("sharpe"),
        med("total_ret", 8).as("total_ret"), med("win_rate", 8).as("win_rate"),
        med("maxdd", 8).as("maxdd"))
    val agg = perAsset.groupBy(col("fmt"), col("bid"))
      .agg(
        med("pf", 10).as("med_pf"), med("sharpe", 10).as("med_sharpe"),
        med("total_ret", 10).as("med_total_ret"),
        med("win_rate", 10).as("med_win_rate"), med("maxdd", 10).as("med_max_dd"),
        sum(col("n_trades")).as("total_trades"),
        round(avg(when(col("pf") > 1.0, 1.0).when(col("pf").isNotNull, 0.0)), 6)
          .as("xa_consistency"),
        count(lit(1)).as("n_assets"))
    val strict = col("med_pf") > 1.05 && col("xa_consistency") > 0.6 &&
      col("total_trades") > 500
    val relaxed = col("med_pf") > 1.0 && col("xa_consistency") > 0.5 &&
      col("total_trades") > 500
    val pick = agg.agg(
      count(when(strict, 1)).as("c1"), count(when(relaxed, 1)).as("c2"),
      count(when(col("total_trades") > 100, 1)).as("c3"))
      .select(when(col("c1") > 0, 1).when(col("c2") > 0, 2)
        .when(col("c3") > 0, 3).otherwise(4).as("tier"))
    agg.crossJoin(broadcast(pick))
      .filter((col("tier") === 1 && strict) || (col("tier") === 2 && relaxed) ||
        (col("tier") === 3 && col("total_trades") > 100) ||
        // tier 4 (beyond the reference's cascade, same philosophy --
        // "relax until nonempty"): its corpus guarantees trades > 100;
        // the sf0.001 smoke fixture does not
        (col("tier") === 4 && col("total_trades") > 0))
      // partitionless rank window: O(formations × barriers) frame, bounded
      .withColumn("rank", row_number().over(
        Window.orderBy(col("med_sharpe").desc, col("fmt"), col("bid"))))
      .filter(col("rank") <= 30)
      .select(col("rank"), col("fmt"), col("bid"), col("med_pf"),
        col("med_sharpe"), col("med_total_ret"), col("med_win_rate"),
        col("med_max_dd"), col("total_trades"), col("xa_consistency"),
        col("n_assets"), col("tier"))
      .orderBy(col("rank"))
  }

  val q141Sql: String =
    s"""WITH $duckFoldsCte,
       |pa AS (
       |  SELECT fmt, bid, sym, thr, sum(n) AS n_trades,
       |    round(quantile_cont(pf, 0.5), 8) AS pf,
       |    round(quantile_cont(sharpe, 0.5), 8) AS sharpe,
       |    round(quantile_cont(total_ret, 0.5), 8) AS total_ret,
       |    round(quantile_cont(win_rate, 0.5), 8) AS win_rate,
       |    round(quantile_cont(maxdd, 0.5), 8) AS maxdd
       |  FROM folds GROUP BY fmt, bid, sym, thr),
       |ag AS (
       |  SELECT fmt, bid,
       |    round(quantile_cont(pf, 0.5), 10) AS med_pf,
       |    round(quantile_cont(sharpe, 0.5), 10) AS med_sharpe,
       |    round(quantile_cont(total_ret, 0.5), 10) AS med_total_ret,
       |    round(quantile_cont(win_rate, 0.5), 10) AS med_win_rate,
       |    round(quantile_cont(maxdd, 0.5), 10) AS med_max_dd,
       |    CAST(sum(n_trades) AS BIGINT) AS total_trades,
       |    round(avg(CASE WHEN pf > 1.0 THEN 1.0
       |      WHEN pf IS NOT NULL THEN 0.0 END), 6) AS xa_consistency,
       |    count(*) AS n_assets
       |  FROM pa GROUP BY fmt, bid),
       |pick AS (
       |  SELECT CASE WHEN count(*) FILTER (WHERE med_pf > 1.05
       |      AND xa_consistency > 0.6 AND total_trades > 500) > 0 THEN 1
       |    WHEN count(*) FILTER (WHERE med_pf > 1.0
       |      AND xa_consistency > 0.5 AND total_trades > 500) > 0 THEN 2
       |    WHEN count(*) FILTER (WHERE total_trades > 100) > 0 THEN 3
       |    ELSE 4 END AS tier
       |  FROM ag),
       |sel AS (
       |  SELECT ag.*, tier FROM ag, pick
       |  WHERE (tier = 1 AND med_pf > 1.05 AND xa_consistency > 0.6
       |      AND total_trades > 500)
       |    OR (tier = 2 AND med_pf > 1.0 AND xa_consistency > 0.5
       |      AND total_trades > 500)
       |    OR (tier = 3 AND total_trades > 100)
       |    OR (tier = 4 AND total_trades > 0))
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY med_sharpe DESC, fmt, bid) AS rank,
       |    fmt, bid, med_pf, med_sharpe, med_total_ret, med_win_rate,
       |    med_max_dd, total_trades, xa_consistency, n_assets, tier
       |  FROM sel)
       |WHERE rank <= 30 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q142 — the gen720 telemetry pack's `top-barriers` canned query
  // (scripts/gen720_query.py:36-52): per barrier over ALL fold rows,
  // average and CV of the risk metric, average PF, and the
  // TAMRS-viable fraction (risk metric > 1 AND tail metric > 0.30 —
  // pf/sharpe in this basis), gated HAVING n_folds ≥ 50, ranked by
  // viable fraction DESC then CV ASC, top 20 (bid tiebreak added in
  // BOTH engines — the canned query's ordering is otherwise
  // nondeterministic on ties).
  def q142TopBarriers(spark: SparkSession, d: String): DataFrame = {
    val perBid = foldFrame(spark, d).groupBy(col("bid"))
      .agg(
        count(lit(1)).as("n_folds"),
        // means of 4/6 dp-QUANTIZED metrics are lattice points that land
        // exactly on 6 dp rounding boundaries (the median lesson, for
        // means): round at 10 dp, where the exact decimal is representable
        round(avg(col("pf")), 10).as("avg_pf"),
        round(stddev_samp(col("pf")) / nullif(avg(col("pf")), lit(0.0)), 6)
          .as("pf_cv"),
        round(avg(col("sharpe")), 10).as("avg_sharpe"),
        round(sum(when(col("pf") > 1.0 && col("sharpe") > 0.30, 1)
          .otherwise(0)).cast("double") / count(lit(1)), 6).as("viable_pct"))
    perBid
      // the reference's >= 50 literal whenever the fold universe reaches
      // it; degrade to the observed max at smoke fixtures (its corpus
      // guarantees 50+ folds per barrier; sf0.001 does not). The scalar
      // comes from the SAME grouped frame (n_folds ≡ the per-bid fold
      // count) — the r15 form re-invoked foldFrame for it and was saved
      // from a second fact pass only by CacheManager plan-dedup
      .crossJoin(broadcast(perBid.agg(max(col("n_folds")).as("mxf"))))
      .filter(col("n_folds") >= least(lit(50L), col("mxf")))
      .drop("mxf")
      // partitionless rank window: O(barriers) frame, bounded
      .withColumn("rank", row_number().over(
        Window.orderBy(col("viable_pct").desc, col("pf_cv").asc, col("bid"))))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("bid"), col("n_folds"), col("avg_pf"),
        col("pf_cv"), col("avg_sharpe"), col("viable_pct"))
      .orderBy(col("rank"))
  }

  val q142Sql: String =
    s"""WITH $duckFoldsCte,
       |tb AS (
       |  SELECT bid, count(*) AS n_folds,
       |    round(avg(pf), 10) AS avg_pf,
       |    round(stddev_samp(pf) / nullif(avg(pf), 0.0), 6) AS pf_cv,
       |    round(avg(sharpe), 10) AS avg_sharpe,
       |    round(sum(CASE WHEN pf > 1.0 AND sharpe > 0.30 THEN 1 ELSE 0 END)::DOUBLE
       |      / count(*), 6) AS viable_pct
       |  FROM folds GROUP BY bid
       |  HAVING count(*) >= least(50, (
       |    SELECT max(c) FROM (SELECT count(*) AS c FROM folds GROUP BY bid))))
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY viable_pct DESC, pf_cv ASC, bid)
       |      AS rank,
       |    bid, n_folds, avg_pf, pf_cv, avg_sharpe, viable_pct
       |  FROM tb)
       |WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q143 — cross-asset robustness metrics (eval/cross_asset.py:65-137,
  // the module that feeds ranking.py's xa_* MetricSpecs): per config
  // over the asset axis — count of assets with PF > 1 (finite PF only),
  // mean PF over TESTED assets, summed signal count, and consistency =
  // positive count / ALL assets (the reference's deliberate denominator
  // asymmetry: the mean skips untested assets, the consistency fraction
  // charges them). A config with no tested asset keeps its row with
  // NULL metrics (`:118-122`). Config axis = the 10-bucket grid; assets
  // = event_type; quantized-input means round at 10 dp (the r15
  // lattice rule).
  def q143CrossAssetMetrics(spark: SparkSession, d: String): DataFrame = {
    val wins = sum(greatest(col("r"), lit(0.0)))
    val losses = sum(greatest(-col("r"), lit(0.0)))
    val perAsset = RankingQueries.cfgReturns(spark, d)
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(when(losses === 0.0, when(wins > 0.0, lit(10.0)).otherwise(lit(null)))
          .otherwise(least(wins / losses, lit(10.0))), 4).as("pf"))
    val nAssets = RankingQueries.cfgReturns(spark, d)
      .agg(countDistinct(col("event_type")).cast("double").as("n_assets"))
    perAsset.groupBy(col("bucket"))
      .agg(
        count(col("pf")).as("n_tested"),
        count(when(col("pf") > 1.0, 1)).as("n_pos"),
        round(avg(col("pf")), 10).as("xa_avg_pf"),
        sum(col("n")).as("xa_total_signals"))
      .crossJoin(broadcast(nAssets))
      .select(
        concat(lit("c"), col("bucket").cast("string")).as("config"),
        when(col("n_tested") > 0, col("n_pos")).as("xa_n_positive"),
        col("xa_avg_pf"),
        when(col("n_tested") > 0, col("xa_total_signals")).as("xa_total_signals"),
        round(when(col("n_tested") > 0,
          col("n_pos").cast("double") / col("n_assets")), 6).as("xa_consistency"))
      .orderBy(col("config"))
  }

  val q143Sql: String =
    s"""WITH ${RankingQueries.duckCfgRets},
       |pa AS (
       |  SELECT bucket, event_type, count(*) AS n,
       |    round(CASE WHEN sum(greatest(-r, 0.0)) = 0.0
       |      THEN CASE WHEN sum(greatest(r, 0.0)) > 0.0 THEN 10.0 END
       |      ELSE least(sum(greatest(r, 0.0)) / sum(greatest(-r, 0.0)), 10.0)
       |    END, 4) AS pf
       |  FROM rets GROUP BY bucket, event_type),
       |na AS (SELECT count(DISTINCT event_type)::DOUBLE AS n_assets FROM rets),
       |cf AS (
       |  SELECT bucket, count(pf) AS n_tested,
       |    count(CASE WHEN pf > 1.0 THEN 1 END) AS n_pos,
       |    round(avg(pf), 10) AS xa_avg_pf,
       |    CAST(sum(n) AS BIGINT) AS xa_total_signals
       |  FROM pa GROUP BY bucket)
       |SELECT 'c' || bucket::VARCHAR AS config,
       |  CASE WHEN n_tested > 0 THEN n_pos END AS xa_n_positive,
       |  xa_avg_pf,
       |  CASE WHEN n_tested > 0 THEN xa_total_signals END AS xa_total_signals,
       |  round(CASE WHEN n_tested > 0 THEN n_pos::DOUBLE / n_assets END, 6)
       |    AS xa_consistency
       |FROM cf, na ORDER BY config""".stripMargin

  val all: Map[String, Q] = Map(
    "q131_entropy_topsis" -> (q131EntropyTopsis _),
    "q132_promethee" -> (q132Promethee _),
    "q133_stability_rank" -> (q133StabilityRank _),
    "q134_universality" -> (q134Universality _),
    "q135_bootstrap_rank" -> (q135BootstrapRank _),
    "q136_rank_agreement" -> (q136RankAgreement _),
    "q137_stagnation_rank" -> (q137StagnationRank _),
    "q138_rank_objectives" -> (q138RankObjectives _),
    "q139_rank_matrix" -> (q139RankMatrix _),
    "q140_pareto_front" -> (q140ParetoFront _),
    "q141_best_barriers" -> (q141BestBarriers _),
    "q142_top_barriers" -> (q142TopBarriers _),
    "q143_cross_asset_metrics" -> (q143CrossAssetMetrics _))

  val oracles: Map[String, String] = Map(
    "q131_entropy_topsis" -> q131Sql,
    "q132_promethee" -> q132Sql,
    "q133_stability_rank" -> q133Sql,
    "q134_universality" -> q134Sql,
    "q135_bootstrap_rank" -> q135Sql,
    "q136_rank_agreement" -> q136Sql,
    "q137_stagnation_rank" -> q137Sql,
    "q138_rank_objectives" -> q138Sql,
    "q139_rank_matrix" -> q139Sql,
    "q140_pareto_front" -> q140Sql,
    "q141_best_barriers" -> q141Sql,
    "q142_top_barriers" -> q142Sql,
    "q143_cross_asset_metrics" -> q143Sql)
}
