package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

class GraftFunctionsSpec extends GraftSuite {
  import spark.implicits._

  private def qexc(xs: Seq[java.lang.Double], q: Double): Option[Double] = {
    val df = Seq(1).toDF("i").select(
      GraftFunctions.quantileExactExclusive(
        array(xs.map(v => if (v == null) lit(null) else lit(v.doubleValue)): _*), q).as("r"))
    val row = df.first()
    if (row.isNullAt(0)) None else Some(row.getDouble(0))
  }

  test("quantile_exact_exclusive matches PERCENTILE.EXC hand goldens") {
    // Excel PERCENTILE.EXC({1,2,3,4}, 0.25) = 1.25: h = 0.25*5 = 1.25
    assert(qexc(Seq(1.0, 2.0, 3.0, 4.0).map(Double.box), 0.25).get === 1.25)
    // h = 0.5*5 = 2.5 → 2 + 0.5*(3-2) = 2.5
    assert(qexc(Seq(1.0, 2.0, 3.0, 4.0).map(Double.box), 0.5).get === 2.5)
    // unsorted input must be sorted internally
    assert(qexc(Seq(4.0, 1.0, 3.0, 2.0).map(Double.box), 0.5).get === 2.5)
    // clamp low: h = 0.01*5 < 1 → min
    assert(qexc(Seq(1.0, 2.0, 3.0, 4.0).map(Double.box), 0.01).get === 1.0)
    // clamp high: h = 0.95*5 = 4.75 >= 4 → max
    assert(qexc(Seq(1.0, 2.0, 3.0, 4.0).map(Double.box), 0.95).get === 4.0)
    // single element → that element for any q
    assert(qexc(Seq(7.0).map(Double.box), 0.5).get === 7.0)
  }

  test("quantile_exact_exclusive skips NULLs; all-null/empty → NULL") {
    assert(qexc(Seq(Double.box(1.0), null, Double.box(3.0), null, Double.box(2.0)), 0.5).get === 2.0)
    assert(qexc(Seq(null, null), 0.5).isEmpty)
    assert(qexc(Seq(), 0.5).isEmpty)
  }

  test("quantile_multi_exclusive agrees element-wise with the scalar form") {
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.95)
    val rnd = new scala.util.Random(7)
    for (n <- Seq(1, 2, 5, 100)) {
      val xs = Seq.fill(n)(rnd.nextDouble() * 10 - 5)
      val arr = array(xs.map(lit): _*)
      val row = Seq(1).toDF("i").select(
        GraftFunctions.quantileMultiExclusive(arr, qs).as("multi") +:
          qs.zipWithIndex.map { case (q, i) =>
            GraftFunctions.quantileExactExclusive(arr, q).as(s"s$i")
          }: _*).first()
      val multi = row.getSeq[Double](0)
      qs.indices.foreach { i =>
        assert(multi(i) === row.getDouble(i + 1), s"n=$n q=${qs(i)}")
      }
    }
    // empty/all-null input → NULL, same as the scalar expression
    val nullRow = Seq(1).toDF("i").select(
      GraftFunctions.quantileMultiExclusive(
        array(lit(null).cast("double")), qs).as("m")).first()
    assert(nullRow.isNullAt(0))
  }

  test("dot_fold is bit-identical to the aggregate(zip_with) fold, float and double") {
    // double arrays: random-ish values, compare against the HOF form
    val d = spark.range(200).select(
      expr("transform(sequence(0, 63), i -> sin(id * 64 + i) * 10.0)").as("a"),
      expr("transform(sequence(0, 63), i -> cos(id * 64 + i) * 10.0)").as("b"))
    val both = d.select(
      GraftFunctions.dotFold(col("a"), col("b")).as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)").as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() === 0)
    // float arrays: promotion must equal the explicit double cast
    val f = spark.range(200).select(
      expr("transform(sequence(0, 63), i -> CAST(sin(id * 64 + i) AS FLOAT))").as("a"),
      expr("transform(sequence(0, 63), i -> CAST(cos(id * 64 + i) AS FLOAT))").as("b"))
    val bothF = f.select(
      GraftFunctions.dotFold(col("a"), col("b")).as("fast"),
      expr("aggregate(zip_with(transform(a, x -> CAST(x AS DOUBLE))," +
        " transform(b, x -> CAST(x AS DOUBLE)), (x, y) -> x * y)," +
        " 0D, (acc, v) -> acc + v)").as("slow"))
    assert(bothF.filter(col("fast") =!= col("slow")).count() === 0)
    // edge semantics: empty → 0.0; null element or length mismatch → NULL
    val edge = Seq(1).toDF("i").select(
      GraftFunctions.dotFold(
        expr("CAST(array() AS ARRAY<DOUBLE>)"), expr("CAST(array() AS ARRAY<DOUBLE>)")).as("empty"),
      GraftFunctions.dotFold(
        expr("array(1.0D, CAST(NULL AS DOUBLE))"), expr("array(1.0D, 2.0D)")).as("nul"),
      GraftFunctions.dotFold(
        expr("array(1.0D)"), expr("array(1.0D, 2.0D)")).as("mismatch")).first()
    assert(edge.getDouble(0) === 0.0)
    assert(edge.isNullAt(1) && edge.isNullAt(2))
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    val d = spark.range(300).select(
      sort_array(array_distinct(
        expr("transform(sequence(0, CAST(id % 17 AS INT)), i -> concat('w', (id * 7 + i * 3) % 23))"))).as("a"),
      sort_array(array_distinct(
        expr("transform(sequence(0, CAST(id % 13 AS INT)), i -> concat('w', (id * 5 + i * 2) % 23))"))).as("b"))
    val both = d.select(
      GraftFunctions.sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("slow"),
      (size(col("a")) + size(col("b")) -
        GraftFunctions.sortedIntersectCount(col("a"), col("b"))).as("unionFast"),
      size(array_union(col("a"), col("b"))).as("unionSlow"))
    assert(both.filter(col("fast") =!= col("slow")).count() === 0)
    assert(both.filter(col("unionFast") =!= col("unionSlow")).count() === 0)
  }

  test("md5_prefix_int equals conv(substring(md5, 1, 8), 16, 10)") {
    val d = spark.range(500).select(
      concat(lit("w"), (col("id") * 37 % 97).cast("string"),
        when(col("id") % 7 === 0, lit(" é✓")).otherwise(lit(""))).as("s"))
      .union(Seq("", " ", "é", "✓✓✓✓✓✓").toDF("s"))
    val both = d.select(
      GraftFunctions.md5PrefixInt(col("s")).as("fast"),
      conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("winnow_stats equals the composed shingle→hash→window-min chain") {
    // the pre-kernel q23 chain, spelled out
    val composed = Seq(
      ("sh", "transform(sequence(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5))"),
      ("h", null), ("mins",
        """CASE WHEN size(h) < 4 THEN array(array_min(h))
          |ELSE transform(sequence(1, size(h) - 3), i ->
          |  least(element_at(h, i), element_at(h, i + 1),
          |        element_at(h, i + 2), element_at(h, i + 3)))
          |END""".stripMargin))
    val texts = Seq("", "a", "abcd", "abcde", "abcdef",
      "héllo wörld ✓ mixed unicode text",
      "the quick brown fox jumps over the lazy dog repeatedly and then some more")
      .toDF("text")
      .union(spark.range(100).select(
        concat_ws(" ", (0 to 20).map(i =>
          concat(lit("tok"), ((col("id") + i) * 31 % 59).cast("string"))): _*).as("text")))
    val chain = texts
      .withColumn("sh", expr(composed.head._2))
      .withColumn("h", transform(col("sh"),
        s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")))
      .withColumn("mins", expr(composed(2)._2))
      .select(col("text"),
        size(col("sh")).as("w_n_shingles"),
        size(array_distinct(col("mins"))).as("w_n_fp"),
        array_min(col("mins")).as("w_fp_min"),
        array_max(col("mins")).as("w_fp_max"))
    val both = chain
      .withColumn("ws", GraftFunctions.winnowStats(col("text")))
      .filter(
        col("ws.n_shingles") =!= col("w_n_shingles") ||
          col("ws.n_fp") =!= col("w_n_fp") ||
          col("ws.fp_min") =!= col("w_fp_min") ||
          col("ws.fp_max") =!= col("w_fp_max"))
    assert(both.count() === 0)
  }

  test("word_bigrams equals the composed tokenize→bigram→distinct→sort chain") {
    val texts = Seq("", " ", "one", "one two", "a b a b a",
      "  padded   with	tabs\nand newlines  ",
      "héllo wörld héllo wörld ✓")
      .toDF("text")
      .union(spark.range(100).select(
        concat_ws(" ", (0 to 15).map(i =>
          concat(lit("w"), ((col("id") + i) * 13 % 31).cast("string"))): _*).as("text")))
    val chain = texts
      .withColumn("tok", split(trim(col("text")), "\\s+"))
      .withColumn("sh2",
        expr("transform(sequence(1, greatest(size(tok) - 1, 1))," +
          " i -> concat_ws(' ', slice(tok, i, 2)))"))
      .withColumn("slow", sort_array(array_distinct(col("sh2"))))
      .withColumn("fast", GraftFunctions.wordBigrams(col("text")))
    assert(chain.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("hashed_word_ngrams equals the tokenize→ngram→md5→distinct→sort chain") {
    val texts = Seq("", " ", "one", "one two three four", "a b c d e f g a b c d e",
      "  padded   with	tabs\nand newlines  ", "héllo wörld ✓ one two")
      .toDF("text")
      .union(spark.range(100).select(
        concat_ws(" ", (0 to 20).map(i =>
          concat(lit("w"), ((col("id") + i) * 13 % 31).cast("string"))): _*).as("text")))
    Seq(2, 5).foreach { n =>
      val chain = texts
        .withColumn("tok", split(trim(col("text")), "\\s+"))
        .withColumn("gs",
          expr(s"transform(sequence(1, greatest(size(tok) - ${n - 1}, 1))," +
            s" i -> array_join(slice(tok, i, $n), ' '))"))
        .withColumn("slow", sort_array(array_distinct(
          transform(col("gs"), g => GraftFunctions.md5PrefixInt(g)))))
        .withColumn("fast", GraftFunctions.hashedWordNgrams(col("text"), n))
      assert(chain.filter(col("fast") =!= col("slow")).count() === 0, s"n=$n")
    }
  }

  test("running_max_seeded equals the transform/array_max(slice) chain") {
    // non-empty arrays only: the barrier engine guarantees ≥1 forward bar
    // (entry filter), and sequence(1, 0) would turn descending in the
    // composed chain rather than empty
    val d = spark.range(200).select(
      expr("transform(sequence(1, 1 + CAST(id % 40 AS INT)), i -> sin(id * 40 + i) * 100.0)").as("a"),
      (col("id").cast("double") % 50.0).as("seed"))
    val both = d.select(
      GraftFunctions.runningMaxSeeded(col("a"), col("seed")).as("fast"),
      expr("transform(sequence(1, size(a)), i -> greatest(seed, array_max(slice(a, 1, i))))").as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("running_max_seeded follows Spark's double ordering at the edges: " +
    "NaN poisons the suffix (largest value), ±0.0 equal with first-seen kept") {
    // pre-fix the kernel used primitive '>', which DROPS NaN (v > m is
    // false) where the composed greatest/array_max form carries it as
    // the largest double — the bit-identity claim broke on any NaN
    // (e.g. a 0/0 upstream). The sign of zero goes the OTHER way: Spark
    // compares doubles with primitive == first, so -0.0 and 0.0 are
    // EQUAL and max keeps the incumbent — the composed form returns
    // -0.0 if it arrived first (r13 review + this spec's own probe)
    val d = Seq(
      (Seq(1.0, Double.NaN, 2.0), 0.0),
      (Seq(-1.0, -0.0, 0.0, -2.0), -3.0),
      (Seq(Double.NaN), 5.0)
    ).toDF("a", "seed")
    val both = d.select(
      GraftFunctions.runningMaxSeeded(col("a"), col("seed")).as("fast"),
      expr("transform(sequence(1, size(a)), i -> greatest(seed, array_max(slice(a, 1, i))))").as("slow"))
      .collect()
    both.foreach { r =>
      val (f, s) = (r.getSeq[Double](0), r.getSeq[Double](1))
      assert(f.length == s.length)
      f.zip(s).foreach { case (x, y) =>
        assert(java.lang.Double.compare(x, y) == 0, s"$f vs $s")
      }
    }
    // the NaN row's suffix must BE NaN in both forms
    assert(both.head.getSeq[Double](0).drop(1).forall(_.isNaN))
  }

  test("running_max_seeded's scale equals transform(running max, x -> x * scale)") {
    // the trailing stop's per-bar stop price, formerly a lambda over the
    // unscaled running max: the same single multiply per element
    val d = Seq(
      (Seq(1.0, Double.NaN, 2.0), 0.0, 0.99),
      (Seq(-1.0, -0.0, 0.0, -2.0), -3.0, 0.5),
      (Seq(3.0, 1.0, 4.0, 1.0, 5.0), 2.0, 1.0 - 0.01)
    ).toDF("a", "seed", "scale")
    val both = d.select(
      GraftFunctions.runningMaxSeeded(col("a"), col("seed"), col("scale")).as("fast"),
      transform(GraftFunctions.runningMaxSeeded(col("a"), col("seed")),
        x => x * col("scale")).as("slow")).collect()
    both.foreach { r =>
      val (f, s) = (r.getSeq[Double](0), r.getSeq[Double](1))
      assert(f.length == s.length && f.zip(s).forall { case (x, y) =>
        java.lang.Double.compare(x, y) == 0 }, s"$f vs $s")
    }
  }

  /** Runs `body` on Spark's generated code and again on the interpreted
    * `eval` path (no whole-stage codegen, no expression codegen). */
  private def onBothPaths(body: String => Unit): Unit = {
    body("codegen")
    val confs = Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body("interpreted")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // the kernel's whole edge surface: NaN, ±0.0 and NULL elements, NULL
  // arrays, lengths from NULL through 0 to past the end, thresholds
  // including NaN, ±0.0 and NULL
  private val touchPool: Seq[java.lang.Double] =
    Seq(-2.0, -1.0, -0.0, 0.0, 1.0, 2.0, Double.NaN).map(Double.box) :+ null
  private def touchFrame(rows: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def arr: Seq[java.lang.Double] =
      if (rnd.nextInt(12) == 0) null else Seq.fill(rnd.nextInt(7))(pick(touchPool))
    val lens = Seq[Integer](null, 0, 1, 2, 3, 6, 100)
    (0 until rows).map(_ => (arr, pick(lens), pick(touchPool), arr, pick(Seq(0, 0, 1, 2, 5))))
      .toDF("a", "n", "t", "ts", "o")
      .repartition(2) // keep the projection off the local relation (else it folds interpreted)
  }

  test("first_touch equals coalesce(array_position(transform(slice(a, 1, n), " +
    "x -> x >= t / x <= t), true), 0) on NaN, ±0.0 and NULL edges") {
    val d = touchFrame(600, 11)
    onBothPaths { path =>
      val got = d.select(
        GraftFunctions.firstTouch(col("a"), col("n"), col("t"), above = true).as("up"),
        expr("coalesce(array_position(transform(slice(a, 1, n), x -> x >= t), true), 0)")
          .as("up_ref"),
        GraftFunctions.firstTouch(col("a"), col("n"), col("t"), above = false).as("dn"),
        expr("coalesce(array_position(transform(slice(a, 1, n), x -> x <= t), true), 0)")
          .as("dn_ref"),
        col("a"), col("n"), col("t")).collect()
      got.foreach { r =>
        assert(r.getLong(0) == r.getLong(1) && r.getLong(2) == r.getLong(3),
          s"$path: a=${r.get(4)} n=${r.get(5)} t=${r.get(6)} -> $r")
      }
      // every edge actually occurs, and both outcomes (touch / none) do
      assert(got.exists(_.isNullAt(4)) && got.exists(_.isNullAt(5)) && got.exists(_.isNullAt(6)))
      assert(got.exists(r => !r.isNullAt(6) && r.getDouble(6).isNaN))
      assert(got.exists(_.getLong(0) > 0) && got.exists(_.getLong(0) == 0))
    }
  }

  test("first_touch with an offset equals the slice(a, o + 1, n) form re-based by o") {
    val d = touchFrame(400, 12)
    onBothPaths { path =>
      d.select(
        GraftFunctions.firstTouch(col("a"), col("n"), col("t"), above = false,
          offset = col("o")).as("fast"),
        expr("coalesce(array_position(transform(slice(a, o + 1, n), x -> x <= t), true), 0)")
          .as("local"), col("o")).collect().foreach { r =>
        val want = if (r.getLong(1) > 0) r.getLong(1) + r.getInt(2) else 0L
        assert(r.getLong(0) == want, s"$path: $r")
      }
    }
  }

  test("first_touch with an array threshold equals the zip_with(slice, slice) form") {
    // the trailing stop's per-bar stop: a shorter or NULL-holding stop
    // array never touches where zip_with pads or holds NULL
    val d = touchFrame(600, 13)
    onBothPaths { path =>
      d.select(
        GraftFunctions.firstTouch(col("a"), col("n"), col("ts"), above = false).as("fast"),
        expr("coalesce(array_position(zip_with(slice(a, 1, n), slice(ts, 1, n), " +
          "(x, y) -> x <= y), true), 0)").as("slow"), col("a"), col("ts"))
        .collect().foreach { r =>
          assert(r.getLong(0) == r.getLong(1), s"$path: $r")
        }
    }
  }

  test("first_touch refuses a negative length like slice (named error, even " +
    "with a NULL threshold) and a negative offset") {
    import org.apache.spark.SparkThrowable
    def rootCauses(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: rootCauses(t.getCause)
    val d = Seq((Seq(1.0, 2.0), -1, Option.empty[Double], 0), (Seq(1.0, 2.0), 1, Some(1.0), -1))
      .toDF("a", "n", "t", "o").repartition(1)
    onBothPaths { path =>
      val neg = intercept[Exception](d.filter(col("o") === 0).select(
        GraftFunctions.firstTouch(col("a"), col("n"), col("t"), above = true)).collect())
      assert(rootCauses(neg).exists {
        case e: SparkThrowable => e.getCondition == "INVALID_PARAMETER_VALUE.LENGTH"
        case _ => false
      }, s"$path: ${rootCauses(neg).map(_.getMessage).mkString(" | ")}")
      // the slice form it replaces fails the same way
      val ref = intercept[Exception](d.filter(col("o") === 0).select(
        expr("array_position(transform(slice(a, 1, n), x -> x >= t), true)")).collect())
      assert(rootCauses(ref).exists(_.getMessage.contains("INVALID_PARAMETER_VALUE.LENGTH")))
      val off = intercept[Exception](d.filter(col("o") === -1).select(
        GraftFunctions.firstTouch(col("a"), col("n"), col("t"), above = true,
          offset = col("o"))).collect())
      assert(rootCauses(off).exists(e =>
        e.getMessage != null && e.getMessage.contains("offset >= 0")), s"$path")
    }
  }

  test("first_touch fails ANALYSIS on array<float> / non-int bounds instead of " +
    "reading 4-byte slots as doubles") {
    import org.apache.spark.sql.AnalysisException
    val d = Seq((Seq(1.0f, 2.0f), Seq(1.0, 2.0), 2, 2L, 1.5))
      .toDF("floats", "doubles", "n", "nl", "t")
    intercept[AnalysisException](d.select(
      GraftFunctions.firstTouch(col("floats"), col("n"), col("t"), above = true)).collect())
    intercept[AnalysisException](d.select(
      GraftFunctions.firstTouch(col("doubles"), col("nl"), col("t"), above = true)).collect())
    intercept[AnalysisException](d.select(
      GraftFunctions.firstTouch(col("doubles"), col("n"), col("floats"), above = true)).collect())
    // the explicit cast is the supported route, and agrees with the lambda form
    val r = d.select(
      GraftFunctions.firstTouch(col("floats").cast("array<double>"), col("n"), col("t"),
        above = true),
      expr("coalesce(array_position(transform(slice(floats, 1, n), x -> x >= t), true), 0)"))
      .first()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L, r.toString)
  }

  test("custom kernels fail ANALYSIS on mistyped inputs instead of reading " +
    "garbage at fixed widths") {
    import org.apache.spark.sql.AnalysisException
    val d = Seq((Seq(1, 2, 3), Seq("b", "c"), Seq(1L, 2L), Seq(1.0f, 2.0f)))
      .toDF("ints", "strs", "longs", "floats")
    // dot_fold over array<int>: getDouble on 4-byte slots would return
    // misaligned garbage, not an error
    intercept[AnalysisException](
      d.select(GraftFunctions.dotFold(col("ints"), col("ints"))).collect())
    // sorted_intersect_count dispatches on the LEFT type only: a
    // string/long mismatch would getLong on string-encoded ArrayData
    intercept[AnalysisException](
      d.select(GraftFunctions.sortedIntersectCount(col("strs"), col("longs"))).collect())
    intercept[AnalysisException](
      d.select(GraftFunctions.sortedIntersectCount(col("longs"), col("strs"))).collect())
    intercept[AnalysisException](
      d.select(GraftFunctions.sortedIntersectCount(col("ints"), col("ints"))).collect())
    // srp over a non-numeric array
    intercept[AnalysisException](
      d.select(GraftFunctions.srpBucket(col("strs"), Seq(Seq(1.0)))).collect())
    // the valid shapes still pass analysis
    assert(d.select(
      GraftFunctions.dotFold(col("floats"), col("floats")),
      GraftFunctions.sortedIntersectCount(col("longs"), col("longs")),
      GraftFunctions.srpBucket(col("floats"), Seq(Seq(1.0, -1.0)))
    ).collect().length == 1)
  }

  test("exclusive_quantile_agg total-orders NaN like the array expression " +
    "(sorted buffer stays sorted)") {
    // pre-fix the agg buffer's primitive '<' insert put NaN at the FRONT
    // and later values landed before it — an unsorted buffer whose order
    // statistics diverged from the Arrays.sort-based array expression on
    // the same values (r13 review)
    val vals = Seq(3.0, Double.NaN, 1.0, 2.0, 4.0)
    for (q <- Seq(0.25, 0.5, 0.75)) {
      val agg = vals.toDF("x")
        .agg(GraftFunctions.exclusiveQuantileAgg(col("x"), q)).first()
      val arr = Seq(1).toDF("i").select(
        GraftFunctions.quantileExactExclusive(array(vals.map(lit): _*), q)).first()
      assert(java.lang.Double.compare(agg.getDouble(0), arr.getDouble(0)) == 0,
        s"q=$q: agg=${agg.getDouble(0)} array=${arr.getDouble(0)}")
    }
  }

  test("Tables.tsUs floors negative (pre-epoch) nanosecond timestamps " +
    "like the oracle's epoch_us") {
    // `div` truncates toward zero: -1500 ns must map to -2 µs, not -1
    val df = Seq(-1500L, -1000L, -1L, 0L, 999L, 1000L, 1500L).toDF("ts")
    val got = df.select(graft.Tables.tsUs(df).as("us")).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(-2L, -1L, -1L, 0L, 0L, 1L, 1L), got.mkString(","))
  }

  test("srp_bucket refuses more than 32 hyperplanes (bit mask wraps mod 32)") {
    val planes33 = Seq.fill(33)(Seq(1.0))
    val e = intercept[IllegalArgumentException](
      Seq(Seq(1.0f)).toDF("e")
        .select(GraftFunctions.srpBucket(col("e"), planes33)).collect())
    assert(e.getMessage.contains("1..32"), e.getMessage)
  }

  test("erf matches known table values to 1e-12") {
    val got = Seq(0.0, 0.5, 1.0, 2.0, -1.0).toDF("x")
      .select(GraftFunctions.erf(col("x")).as("e")).collect().map(_.getDouble(0))
    val want = Seq(0.0, 0.5204998778130465, 0.8427007929497149,
      0.9953222650189527, -0.8427007929497149)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12, s"$g vs $w") }
  }

  test("erfAS approximation stays within 1.5e-7 of precise erf") {
    val df = spark.range(-400, 401).select(($"id" / 100.0).as("x"))
      .select(abs(GraftFunctions.erf($"x") - GraftFunctions.erfAS($"x")).as("d"))
    val maxD = df.agg(max($"d")).first().getDouble(0)
    assert(maxD < 1.5e-7, s"max |erf - erfAS| = $maxD")
  }

  test("SQL registration: graft_erf and quantile_exact_exclusive callable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_erf(1.0) AS e, quantile_exact_exclusive(array(1.0,2.0,3.0,4.0), 0.5) AS q")
      .first()
    assert(math.abs(r.getDouble(0) - 0.8427007929497149) < 1e-12)
    assert(r.getDouble(1) === 2.5)
  }

  test("srp_bucket equals the literal-unrolled hyperplane expression") {
    // real float vectors from the fixture corpus — the kernel and the
    // 512-term unrolled form must bucket every one identically
    val v = graft.Tables.embeddings(spark, sf).withColumn("e", col("embedding"))
    val both = v.select(
      graft.queries.SimilarityQueries.bucketExpr("e").as("fast"),
      graft.queries.SimilarityQueries.bucketExprUnrolled("e").as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
    assert(both.select(countDistinct(col("fast"))).head().getLong(0) > 1,
      "degenerate bucketing — all vectors in one bucket")
  }

  test("moment shims reproduce sample G1/G2 from a driver-side computation") {
    val xs = Seq(1.0, 2.0, 2.5, 3.0, 4.5, 5.0, 7.5, 9.0, 11.0, 2.0)
    val n = xs.size
    val mean = xs.sum / n
    val m2 = xs.map(v => math.pow(v - mean, 2)).sum / n
    val m3 = xs.map(v => math.pow(v - mean, 3)).sum / n
    val m4 = xs.map(v => math.pow(v - mean, 4)).sum / n
    val g1 = m3 / math.pow(m2, 1.5)
    val g2 = m4 / (m2 * m2) - 3
    val wantG1 = g1 * math.sqrt(n.toDouble * (n - 1)) / (n - 2)
    val wantG2 = ((n + 1) * g2 + 6.0) * (n - 1) / ((n - 2).toDouble * (n - 3))
    val df = xs.toDF("x").agg(
      graft.functions.GraftFunctions.skewSamp(col("x"), count(col("x"))).as("s"),
      graft.functions.GraftFunctions.kurtSampExcess(col("x"), count(col("x"))).as("k"))
    val row = df.first()
    assert(math.abs(row.getDouble(0) - wantG1) < 1e-9)
    assert(math.abs(row.getDouble(1) - wantG2) < 1e-9)
  }
}
