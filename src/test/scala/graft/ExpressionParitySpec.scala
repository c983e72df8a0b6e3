package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Codegen ↔ interpreted parity for every custom Catalyst expression.
  *
  * Production plans normally run these through `doGenCode`; the
  * interpreted `eval` path takes over whenever codegen falls back — a
  * janino method-size limit in a giant generated stage, a
  * `factoryMode=NO_CODEGEN` debug session, or constant folding at
  * OPTIMIZATION time (the optimizer evaluates foldable expressions
  * interpreted). At 100 TB the fallback is not hypothetical: wide
  * barrier-grid projections are exactly the stages that trip codegen
  * limits, and a kernel whose two paths disagree would flip results with
  * the plan compilation mode — silently, per-stage. Every test collects
  * the same frame under the default codegen pipeline and under
  * NO_CODEGEN + wholeStage=false and requires bit-identical rows
  * (Row.toString: NaN prints NaN, -0.0 keeps its sign — sign/NaN drifts
  * fail loudly).
  */
class ExpressionParitySpec extends GraftSuite {

  private def collectUnder(mode: String, ws: String)(df: => DataFrame): Array[String] = {
    val keyM = "spark.sql.codegen.factoryMode"
    val keyW = "spark.sql.codegen.wholeStage"
    val prevM = scala.util.Try(spark.conf.get(keyM)).toOption
    val prevW = scala.util.Try(spark.conf.get(keyW)).toOption
    spark.conf.set(keyM, mode)
    spark.conf.set(keyW, ws)
    try df.collect().map(_.toString)
    finally {
      prevM.fold(spark.conf.unset(keyM))(spark.conf.set(keyM, _))
      prevW.fold(spark.conf.unset(keyW))(spark.conf.set(keyW, _))
    }
  }

  private def parity(label: String)(df: => DataFrame): Unit = {
    val gen = collectUnder("FALLBACK", "true")(df)
    val interp = collectUnder("NO_CODEGEN", "false")(df)
    assert(gen.length == interp.length && gen.nonEmpty,
      s"$label: ${gen.length} codegen rows vs ${interp.length} interpreted")
    gen.zip(interp).zipWithIndex.foreach { case ((g, i), idx) =>
      assert(g == i, s"$label row $idx:\n  codegen    $g\n  interpreted $i")
    }
  }

  /** Adversarial float-vector fixture: plain, null element, short, empty,
    * NULL column, NaN element. */
  private def vecDf: DataFrame = spark.range(1).select(
    expr("array(cast(1.5 as float), cast(-2.25 as float), cast(0.5 as float))").as("a"),
    expr("array(cast(0.5 as float), cast(null as float), cast(3.0 as float))").as("anull"),
    expr("array(cast(1.0 as float))").as("ashort"),
    expr("cast(array() as array<float>)").as("aempty"),
    expr("cast(null as array<float>)").as("amiss"),
    expr("array(cast('NaN' as float), cast(2.0 as float), cast(1.0 as float))").as("anan"))

  private def dblArrDf: DataFrame = spark.range(1).select(
    expr("array(3.0D, 1.0D, 2.0D, 5.0D, 4.0D)").as("d"),
    expr("array(1.0D)").as("done"),
    expr("cast(array() as array<double>)").as("dempty"),
    expr("array(1.0D, cast('NaN' as double), 2.0D)").as("dnan"),
    expr("array(1.0D, cast(null as double), 2.0D)").as("dnullelem"),
    expr("cast(null as array<double>)").as("dmiss"))

  private def strDf: DataFrame = spark.range(1).select(
    lit("").as("s_empty"),
    lit("one").as("s_one"),
    lit("one two two three one two").as("s_rep"),
    lit("héllo wörld 🙂 héllo wörld").as("s_uni"),
    lit((1 to 200).map(i => s"w$i").mkString(" ")).as("s_long"),
    expr("cast(null as string)").as("s_null"))

  test("erf: NaN/±Inf/±0/null identical in both modes") {
    parity("erf") {
      spark.range(1).select(
        Seq("0.0D", "-0.0D", "1.5D", "-3.25D", "cast('NaN' as double)",
          "cast('Infinity' as double)", "cast('-Infinity' as double)",
          "cast(null as double)").zipWithIndex.map { case (e, i) =>
          GraftFunctions.erf(expr(e)).as(s"e$i")
        }: _*)
    }
  }

  test("quantileExactExclusive + quantileMultiExclusive over empty/NaN/" +
    "null-element/missing arrays") {
    parity("quantile_exact_exclusive") {
      dblArrDf.select(
        Seq("d", "done", "dempty", "dnan", "dnullelem", "dmiss").flatMap(c => Seq(
          GraftFunctions.quantileExactExclusive(col(c), 0.5).as(s"${c}_q50"),
          GraftFunctions.quantileMultiExclusive(col(c), Seq(0.25, 0.95))
            .as(s"${c}_multi"))): _*)
    }
  }

  test("dotFold: length mismatch, null element, empty, NaN, missing") {
    parity("dot_fold") {
      vecDf.select(
        GraftFunctions.dotFold(col("a"), col("a")).as("aa"),
        GraftFunctions.dotFold(col("a"), col("anull")).as("an"),
        GraftFunctions.dotFold(col("a"), col("ashort")).as("ashort"),
        GraftFunctions.dotFold(col("aempty"), col("aempty")).as("ae"),
        GraftFunctions.dotFold(col("anan"), col("a")).as("anan"),
        GraftFunctions.dotFold(col("a"), col("amiss")).as("amiss"))
    }
  }

  test("srpBucket: short array, null element, NaN, missing") {
    val planes = Seq(Seq(1.0, -1.0, 0.5), Seq(-0.25, 0.0, 2.0), Seq(0.0, 0.0, 0.0))
    parity("srp_bucket") {
      vecDf.select(
        GraftFunctions.srpBucket(col("a"), planes).as("a"),
        GraftFunctions.srpBucket(col("anull"), planes).as("anull"),
        GraftFunctions.srpBucket(col("ashort"), planes).as("ashort"),
        GraftFunctions.srpBucket(col("aempty"), planes).as("aempty"),
        GraftFunctions.srpBucket(col("anan"), planes).as("anan"),
        GraftFunctions.srpBucket(col("amiss"), planes).as("amiss"))
    }
  }

  test("sortedIntersectCount: disjoint/overlap/empty/missing") {
    parity("sorted_intersect_count") {
      spark.range(1).select(
        GraftFunctions.sortedIntersectCount(
          expr("array('a','b','d')"), expr("array('b','c','d')")).as("overlap"),
        GraftFunctions.sortedIntersectCount(
          expr("array('a')"), expr("array('b')")).as("disjoint"),
        GraftFunctions.sortedIntersectCount(
          expr("cast(array() as array<string>)"), expr("array('a')")).as("empty"),
        GraftFunctions.sortedIntersectCount(
          expr("cast(null as array<string>)"), expr("array('a')")).as("miss"))
    }
  }

  test("md5PrefixInt: empty/unicode/long/null strings") {
    parity("md5_prefix_int") {
      strDf.select(strDf.columns.map(c =>
        GraftFunctions.md5PrefixInt(col(c)).as(s"h_$c")): _*)
    }
  }

  test("bloomMightContain: hit, miss, null key") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(7L, 42L, 99L).foreach(bf.putLong)
    val baos = new java.io.ByteArrayOutputStream()
    bf.writeTo(baos)
    val bc = spark.sparkContext.broadcast(baos.toByteArray)
    parity("bloom_might_contain") {
      spark.range(1).select(
        GraftFunctions.bloomMightContain(lit(42L), bc).as("hit"),
        GraftFunctions.bloomMightContain(lit(123456L), bc).as("probablyMiss"),
        GraftFunctions.bloomMightContain(expr("cast(null as bigint)"), bc).as("nul"))
    }
  }

  test("pqEncode/pqLut/centroidArgmin kernels: ties and null input") {
    // dim 4, m=2 (sub dim 2), k=2; codebook flat s*k+j. mud is the PQ
    // lanes' BIGINT vector (pqMicroUnits), NOT the double mud of the
    // centroid kernels — the dtype contracts are now analysis-checked.
    val cb = Seq(Seq(0L, 0L), Seq(10L, 10L), Seq(5L, 5L), Seq(5L, 5L))
    val cents = Seq(Seq(0L, 0L, 0L, 0L), Seq(4L, 4L, 4L, 4L), Seq(4L, 4L, 4L, 4L))
    parity("pq_kernels") {
      spark.range(1).select(
        GraftFunctions.pqEncode(expr("array(1L, 1L, 5L, 5L)"), cb, 2, 2).as("codes"),
        GraftFunctions.pqEncode(expr("array(5L, 5L, 5L, 5L)"), cb, 2, 2).as("tie"),
        GraftFunctions.pqEncode(expr("cast(null as array<bigint>)"), cb, 2, 2).as("nul"),
        GraftFunctions.pqLut(expr("array(2L, 2L, 2L, 2L)"), cb, 2, 2).as("lut"),
        GraftFunctions.centroidArgmin(expr("array(2.0D, 2.0D, 2.0D, 2.0D)"), cents).as("cid_tie"),
        GraftFunctions.centroidArgmin(expr("cast(null as array<double>)"), cents).as("cid_nul"))
    }
  }

  test("kernel dtype contracts fail at ANALYSIS, not by reinterpreting bits: " +
    "double mud into pq_encode, long mud into centroid_argmin") {
    // the hazard this spec caught live: PqKernel reads raw 8-byte longs,
    // so a double-typed mud (every OTHER kernel's dtype) used to silently
    // reinterpret IEEE bit patterns as distances under UnsafeArrayData
    val cb = Seq(Seq(0L, 0L), Seq(10L, 10L))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(
        GraftFunctions.pqEncode(expr("array(1.0D, 1.0D)"), cb, 1, 2)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(
        GraftFunctions.centroidArgmin(expr("array(1L, 1L)"), Seq(Seq(0L, 0L)))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(GraftFunctions.cellArgmin(
        expr("array(1L, 1L)"), expr("array(array(0L, 0L))"),
        expr("array(1)"))).collect()
    }
  }

  test("cellArgmin: tie to smaller ascending id, null input") {
    parity("cell_argmin") {
      spark.range(1).select(
        GraftFunctions.cellArgmin(
          expr("array(2.0D, 2.0D)"),
          expr("array(array(0L, 0L), array(4L, 4L))"),
          expr("array(3, 7)")).as("cell0"),
        GraftFunctions.cellArgmin(
          expr("array(10.0D, 10.0D)"),
          expr("array(array(10L, 10L), array(10L, 10L))"),
          expr("array(5, 9)")).as("cell_tie"),
        GraftFunctions.cellArgmin(
          expr("cast(null as array<double>)"),
          expr("array(array(0L, 0L))"), expr("array(1)")).as("cell_nul"))
    }
  }

  test("winnowStats/wordBigrams/hashedWordBigrams/hashedWordNgrams: " +
    "empty/unicode/long/null text") {
    parity("text_kernels") {
      strDf.select(strDf.columns.flatMap(c => Seq(
        GraftFunctions.winnowStats(col(c)).as(s"w_$c"),
        GraftFunctions.wordBigrams(col(c)).as(s"b_$c"),
        GraftFunctions.hashedWordBigrams(col(c)).as(s"hb_$c"),
        GraftFunctions.hashedWordNgrams(col(c), 3).as(s"h3_$c"))): _*)
    }
  }

  test("runningMaxSeeded: NaN element, empty array, null element, NaN seed") {
    parity("running_max_seeded") {
      spark.range(1).select(
        GraftFunctions.runningMaxSeeded(
          expr("array(1.0D, 3.0D, 2.0D)"), lit(2.5)).as("plain"),
        GraftFunctions.runningMaxSeeded(
          expr("array(1.0D, cast('NaN' as double), 2.0D)"), lit(0.0)).as("nan"),
        GraftFunctions.runningMaxSeeded(
          expr("cast(array() as array<double>)"), lit(1.0)).as("empty"),
        GraftFunctions.runningMaxSeeded(
          expr("array(1.0D, cast(null as double))"), lit(1.0)).as("nullelem"),
        GraftFunctions.runningMaxSeeded(
          expr("array(1.0D, 2.0D)"), expr("cast('NaN' as double)")).as("nanseed"))
    }
  }

  test("exclusiveQuantileAgg: NaN-laced groups aggregate identically") {
    parity("exclusive_quantile_agg") {
      spark.range(40)
        .select((col("id") % 4).as("g"),
          when(col("id") % 13 === 0, expr("cast('NaN' as double)"))
            .otherwise(col("id").cast("double")).as("x"))
        .groupBy(col("g"))
        .agg(GraftFunctions.exclusiveQuantileAgg(col("x"), 0.9).as("q90"))
        .orderBy(col("g"))
    }
  }
}
