package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Bar

/** Drives the streaming operators with MemoryStream and checks (a) the
  * no-lookahead guarantee of the stateful expanding stats across batch
  * boundaries and (b) windowed aggregation parity with a batch groupBy.
  */
class StreamingSpec extends GraftSuite {

  test("runningStats: expanding state is prior-only and survives batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Bar]
    val query = StreamingOps.runningStats(mem.toDS())
      .writeStream.format("memory").queryName("running_out")
      .outputMode("append").start()
    try {
      // batch 1: 5 bars of series A ascending values 1..5, one of B
      mem.addData((1 to 5).map(i => Bar("A", i.toLong, i.toDouble)) :+ Bar("B", 1L, 42.0): _*)
      query.processAllAvailable()
      // batch 2: 2 more A bars — state must carry the first five
      mem.addData(Bar("A", 6L, 6.0), Bar("A", 7L, 7.0))
      query.processAllAvailable()

      val rows = spark.table("running_out")
        .filter(col("series") === "A").orderBy("tsUs").collect()
      assert(rows.length == 7)
      // n is the expanding count
      assert(rows.map(_.getAs[Long]("n")).toSeq == (1L to 7L))
      // running mean of 1..k
      rows.zipWithIndex.foreach { case (r, i) =>
        val k = i + 1
        assert(math.abs(r.getAs[Double]("runMean") - (k + 1) / 2.0) < 1e-12)
      }
      // prior-only p95: first row has none; row k sees only rows < k
      assert(rows.head.getAs[Double]("p95Prior") == null ||
        rows.head.isNullAt(rows.head.fieldIndex("p95Prior")))
      // row at ts=6 (batch 2) must see exactly values 1..5: p95.EXC of
      // [1..5] = h=0.95*6=5.7 >= n → max = 5
      val r6 = rows(5)
      assert(math.abs(r6.getAs[Double]("p95Prior") - 5.0) < 1e-12)
      // B is independent state
      val b = spark.table("running_out").filter(col("series") === "B").collect()
      assert(b.length == 1 && b.head.getAs[Long]("n") == 1L)
    } finally query.stop()
  }

  test("runningStats expanding quantile matches the batch window operator") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vals = Seq(3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8, 9.7, 9.3)
    val mem = MemoryStream[Bar]
    val query = StreamingOps.runningStats(mem.toDS())
      .writeStream.format("memory").queryName("running_q")
      .outputMode("append").start()
    try {
      mem.addData(vals.zipWithIndex.map { case (v, i) => Bar("S", i.toLong, v) }: _*)
      query.processAllAvailable()
      val got = spark.table("running_q").orderBy("tsUs")
        .select("p95Prior").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      // batch twin: exclusive quantile over strictly-prior values
      val want = vals.indices.map { i =>
        val prior = vals.take(i).sorted.toIndexedSeq
        if (prior.isEmpty) None
        else {
          val h = 0.95 * (prior.length + 1)
          if (h < 1) Some(prior.head)
          else if (h >= prior.length) Some(prior.last)
          else {
            val fh = math.floor(h); val idx = fh.toInt
            Some(prior(idx - 1) + (h - fh) * (prior(idx) - prior(idx - 1)))
          }
        }
      }
      got.zip(want).foreach { case (g, w) =>
        (g, w) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-12)
          case (a, b) => assert(a == b)
        }
      }
    } finally query.stop()
  }

  test("runningStats: past maxBuffer the prior-p95 stays an unbiased expanding " +
    "estimate (reservoir), not the top-maxBuffer degenerate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // pseudo-uniform [0,1) stream, 2000 rows, buffer capped at 32: the
    // pre-fix eviction dropped the HEAD of the value-sorted buffer (the
    // running minimum), so the buffer converged to the top-32 values ever
    // seen and p95Prior drifted to ~max (≈0.999 here); the reservoir keeps
    // it an estimate of the true expanding p95 (≈0.95)
    val vals = (0 until 2000).map(i => ((i * 2654435761L) % 100000) / 100000.0)
    val mem = MemoryStream[Bar]
    val query = StreamingOps.runningStats(mem.toDS(), maxBuffer = 32)
      .writeStream.format("memory").queryName("running_res")
      .outputMode("append").start()
    try {
      mem.addData(vals.zipWithIndex.map { case (v, i) => Bar("R", i.toLong, v) })
      query.processAllAvailable()
      val rows = spark.table("running_res").orderBy("tsUs").collect()
      assert(rows.length == 2000)
      val last = rows.last
      // exact stats are buffer-independent
      assert(last.getAs[Long]("n") == 2000L)
      assert(math.abs(last.getAs[Double]("runMean") - vals.sum / 2000) < 1e-9)
      assert(last.getAs[Double]("runMin") == vals.min)
      assert(last.getAs[Double]("runMax") == vals.max)
      val p95 = last.getAs[Double]("p95Prior")
      assert(p95 > 0.85 && p95 < 0.99,
        s"p95Prior=$p95 — degenerate top-k drift would sit at ~0.999")
    } finally query.stop()
  }

  test("runningStats: NaN bars cannot unsort the reservoir — p95Prior matches " +
    "a plain-Scala replay of the same algorithm") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // Pre-fix, insertSorted used primitive '<': a NaN value binary-searched
    // to the FRONT of the value-sorted buffer (every comparison false),
    // unsorting it; a later removeSorted on the now-unsorted buffer could
    // delete the wrong element, permanently desyncing buf from slots even
    // after NaN stopped arriving. With java.lang.Double.compare, NaN sorts
    // to the END and removal is exact — so the operator must agree bit-for-
    // bit with this independent replay of the reservoir on a NaN-laced feed.
    val vals = (0 until 600).map { i =>
      if (i % 37 == 3) Double.NaN else ((i * 2654435761L) % 10000) / 10000.0
    }
    val maxBuf = 16
    // plain-Scala replay: same deterministic coin, compare-based sort
    def quantile(sorted: Vector[Double], q: Double): Double = {
      val m = sorted.length
      if (m == 0) Double.NaN
      else {
        val h = q * (m + 1)
        if (h < 1.0) sorted.head
        else if (h >= m) sorted.last
        else {
          val fh = math.floor(h); val idx = fh.toInt
          sorted(idx - 1) + (h - fh) * (sorted(idx) - sorted(idx - 1))
        }
      }
    }
    var slots = Vector.empty[Double]
    var n = 0L
    val expected = vals.map { v =>
      val p = quantile(slots.sortWith(java.lang.Double.compare(_, _) < 0), 0.95)
      n += 1
      if (slots.length < maxBuf) slots = slots :+ v
      else {
        val j = (scala.util.hashing.byteswap64(n) & Long.MaxValue) % n
        if (j < maxBuf) slots = slots.updated(j.toInt, v)
      }
      p
    }
    val mem = MemoryStream[Bar]
    val query = StreamingOps.runningStats(mem.toDS(), maxBuffer = maxBuf)
      .writeStream.format("memory").queryName("running_nan")
      .outputMode("append").start()
    try {
      mem.addData(vals.zipWithIndex.map { case (v, i) => Bar("N", i.toLong, v) })
      query.processAllAvailable()
      val got = spark.table("running_nan").orderBy("tsUs")
        .select("p95Prior").collect()
        .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
      assert(got.length == expected.length)
      got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
        assert(java.lang.Double.compare(g, e) == 0 ||
          (g.isNaN && e.isNaN),
          s"row $i: operator p95Prior=$g != replay $e — reservoir desynced")
      }
      // and once NaNs are diluted out, the estimate is real and sane:
      // rows 0-16 fill the buffer; the final prior-p95 must be finite
      // unless a NaN legitimately survives in the 16-slot sample (the
      // replay tells us which)
      assert(java.lang.Double.compare(got.last, expected.last) == 0 ||
        (got.last.isNaN && expected.last.isNaN))
    } finally query.stop()
  }

  test("windowedBarStats: watermarked tumbling windows match batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Bar]
    // two 1-minute windows of series data
    val bars = (0 until 120).map { i =>
      Bar(if (i % 2 == 0) "X" else "Y", i.toLong * 1000000, (i % 10).toDouble)
    }
    val query = StreamingOps.windowedBarStats(mem.toDS().toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      mem.addData(bars: _*)
      query.processAllAvailable()
      val got = spark.table("win_out")
        .select(col("window.start").cast("long").as("ws"), col("series"),
          col("n"), col("avg_value"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val want = bars.toDF()
        .withColumn("event_time", timestamp_micros(col("tsUs")))
        .groupBy(window(col("event_time"), "1 minute"), col("series"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
        .select(col("window.start").cast("long"), col("series"), col("n"), col("avg_value"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got == want)
      assert(got.keys.map(_._1).toSet.size == 2, "expected two 1-minute windows")
    } finally query.stop()
  }

  test("streamingExactDedup: first arrival survives, later duplicates drop " +
    "across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDS().toDF("doc_id", "ts_us", "text")
    val query = StreamingOps.streamingExactDedup(docs)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: two distinct texts + one in-batch duplicate
      mem.addData((1L, 1000000L, "alpha"), (2L, 2000000L, "beta"),
        (3L, 3000000L, "alpha"))
      query.processAllAvailable()
      // batch 2: cross-batch duplicate of "beta" + a new text
      mem.addData((4L, 4000000L, "beta"), (5L, 5000000L, "gamma"))
      query.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      val texts = rows.map(_.getAs[String]("text")).sorted.toSeq
      assert(texts == Seq("alpha", "beta", "gamma"), s"got $texts")
      // the SURVIVOR of each text is its first arrival
      val byText = rows.map(r => r.getAs[String]("text") -> r.getAs[Long]("doc_id")).toMap
      assert(byText("alpha") == 1L && byText("beta") == 2L && byText("gamma") == 5L)
    } finally query.stop()
  }

  test("streamingNearDupGate: LSH band hits flag near-copies of the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpusText =
      "the quick brown fox jumps over the lazy dog near the old river bank today"
    val corpus = Seq((100L, corpusText)).toDF("doc_id", "text")
    val index = StreamingOps.nearDupBandIndex(corpus)
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val query = StreamingOps.streamingNearDupGate(docs, index)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, corpusText), // exact copy: every band must hit
        (2L, corpusText.replace("today", "tonight")), // near-copy
        (3L, "completely unrelated content about spark catalyst physical plans"))
      query.processAllAvailable()
      val rows = spark.table("neardup_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Int]("n_shared_bands"), r.getAs[Boolean]("near_dup_candidate"))).toMap
      assert(rows(1L) == ((8, true)), s"exact copy: ${rows(1L)}")
      assert(rows(2L)._2, s"near copy should share a band: ${rows(2L)}")
      assert(rows(3L) == ((0, false)), s"fresh doc: ${rows(3L)}")
    } finally query.stop()
  }

  test("streamingNearDupGate: degenerate docs (empty / whitespace / 1-word) " +
    "carry the batch path's real signatures — stream band keys equal the " +
    "batch explode's keys doc-for-doc, never null-collapsed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // HashedWordNgrams' tail-slice contract emits max(len−n+1, 1) grams,
    // so NO doc has an empty shingle set: a token-less doc's one shingle
    // is the empty-gram hash, a 1-word doc's is the word itself. The
    // batch explode therefore gives every doc real bands, and the stream
    // side must agree — empty matches indexed-empty (as batch q26/q49
    // would candidate-pair them), short docs with distinct content match
    // nothing. An r13 review hypothesis (empty set → array_min null →
    // all short docs collapse to 8 shared degenerate keys) was refuted:
    // the empty set cannot occur; this pins the actual contract.
    val corpus = Seq((99L, ""), (100L, "hello"),
      (101L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val index = StreamingOps.nearDupBandIndex(corpus)
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val query = StreamingOps.streamingNearDupGate(docs, index)
      .writeStream.format("memory").queryName("neardup_short_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "x"), // 1-word: one real gram, matches nothing indexed
        (2L, ""), // token-less: the empty-gram signature — matches the
        // indexed "" doc on all 8 bands, exactly like batch
        (3L, "   "), // whitespace-only trims to the same signature as ""
        (4L, "hello"), // exact copy of an indexed 1-word doc
        (5L, "the quick brown fox jumps over the lazy dog"))
      query.processAllAvailable()
      val rows = spark.table("neardup_short_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Int]("n_shared_bands"), r.getAs[Boolean]("near_dup_candidate"))).toMap
      assert(rows(1L) == ((0, false)), s"unmatched 1-word doc: ${rows(1L)}")
      assert(rows(2L) == ((8, true)), s"empty doc vs indexed empty: ${rows(2L)}")
      assert(rows(3L) == ((8, true)), s"whitespace doc: ${rows(3L)}")
      assert(rows(4L) == ((8, true)), s"1-word exact copy: ${rows(4L)}")
      assert(rows(5L) == ((8, true)), s"real exact copy: ${rows(5L)}")
    } finally query.stop()
  }

  test("streamingSemanticGate: full sf0.01 embeddings replay matches the batch " +
    "projection vector-for-vector") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf001 = "/root/testdata/sf0.01"
    val (cents, members) = graft.queries.SimilarityQueries
      .semanticStreamIndex(spark, sf001)
    val membersCached = members.cache()
    val all = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")))
    // batch side: the same gate projection on a static frame
    val batch = StreamingOps.streamingSemanticGate(
        Tables.embeddings(spark, sf001).select(col("vec_id"), col("embedding")),
        cents, membersCached)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cid"), r.getAs[Int]("n_cell_members"),
          r.getAs[Double]("best_cos"), r.getAs[Boolean]("semantic_near_dup"))))
      .toMap
    // every vector is its own cell's member and is excluded from its own
    // verification, so the flags are real near-NEIGHBOR signals
    assert(batch.values.exists(_._4) || batch.nonEmpty)
    val mem = MemoryStream[(Long, Seq[Float])]
    val query = StreamingOps.streamingSemanticGate(
        mem.toDS().toDF("vec_id", "embedding"), cents, membersCached)
      .writeStream.format("memory").queryName("semantic_gate_out")
      .outputMode("append").start()
    try {
      all.grouped(120).foreach { chunk =>
        mem.addData(chunk.map { case (id, e) => (id, e.toSeq) }.toIndexedSeq)
        query.processAllAvailable()
      }
      val streamed = spark.table("semantic_gate_out").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("cid"), r.getAs[Int]("n_cell_members"),
            r.getAs[Double]("best_cos"), r.getAs[Boolean]("semantic_near_dup"))))
        .toMap
      assert(streamed.keySet == batch.keySet,
        s"coverage differs: ${streamed.size} vs ${batch.size}")
      batch.foreach { case (k, b) =>
        assert(streamed(k) == b, s"vec $k: streamed=${streamed(k)} batch=$b")
      }
    } finally { query.stop(); membersCached.unpersist() }
  }

  test("streamingSemanticGateSharded: cid-range shards replay the full sf0.01 " +
    "stream row-identical to the unsharded gate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf001 = "/root/testdata/sf0.01"
    val (cents, members) = graft.queries.SimilarityQueries
      .semanticStreamIndex(spark, sf001)
    val membersCached = members.cache()
    val unsharded = StreamingOps.streamingSemanticGate(
        Tables.embeddings(spark, sf001).select(col("vec_id"), col("embedding")),
        cents, membersCached)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cid"), r.getAs[Int]("n_cell_members"),
          r.getAs[Double]("best_cos"), r.getAs[Boolean]("semantic_near_dup"))))
      .toMap
    val all = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")))
    val mem = MemoryStream[(Long, Seq[Float])]
    // 4 shards over K=8 cells: every branch holds a 2-cid slice, so the
    // range filters and the union path are all genuinely exercised
    val query = StreamingOps.streamingSemanticGateSharded(
        mem.toDS().toDF("vec_id", "embedding"), cents, membersCached, nShards = 4)
      .writeStream.format("memory").queryName("semantic_gate_shard_out")
      .outputMode("append").start()
    try {
      all.grouped(200).foreach { chunk =>
        mem.addData(chunk.map { case (id, e) => (id, e.toSeq) }.toIndexedSeq)
        query.processAllAvailable()
      }
      val streamed = spark.table("semantic_gate_shard_out").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("cid"), r.getAs[Int]("n_cell_members"),
            r.getAs[Double]("best_cos"), r.getAs[Boolean]("semantic_near_dup"))))
        .toMap
      assert(streamed.keySet == unsharded.keySet,
        s"coverage differs: ${streamed.size} vs ${unsharded.size}")
      unsharded.foreach { case (k, b) =>
        assert(streamed(k) == b, s"vec $k: sharded=${streamed(k)} unsharded=$b")
      }
    } finally { query.stop(); membersCached.unpersist() }
  }

  test("semanticGateShard: sequential cid-range branches partition the gate " +
    "output (disjoint, union == unsharded)") {
    val sf001 = "/root/testdata/sf0.01"
    val (cents, members) = graft.queries.SimilarityQueries
      .semanticStreamIndex(spark, sf001)
    val membersCached = members.cache()
    try {
      val vecs = Tables.embeddings(spark, sf001)
        .select(col("vec_id"), col("embedding"))
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("cid"), r.getAs[Int]("n_cell_members"),
            java.lang.Double.doubleToLongBits(r.getAs[Double]("best_cos")),
            r.getAs[Boolean]("semantic_near_dup"))))
      val full = key(StreamingOps.streamingSemanticGate(vecs, cents, membersCached))
        .toMap
      // 3 shards over K=8: uneven last range exercises the hi-bound clamp
      val width = math.max(1, math.ceil(cents.length / 3.0).toInt)
      val branches = (0 until 3).map(s =>
        key(StreamingOps.semanticGateShard(vecs, cents, membersCached,
          s * width, s * width + width)))
      val ids = branches.map(_.map(_._1).toSet)
      for (i <- ids.indices; j <- ids.indices if i < j)
        assert((ids(i) intersect ids(j)).isEmpty,
          s"shards $i/$j overlap: ${(ids(i) intersect ids(j)).take(3)}")
      val merged = branches.flatten.toMap
      assert(merged.keySet == full.keySet,
        s"coverage differs: ${merged.size} vs ${full.size}")
      full.foreach { case (k, b) =>
        assert(merged(k) == b, s"vec $k: sequential=${merged(k)} unsharded=$b")
      }
      // assign-ONCE split: verifyShard over a pre-assigned (persisted) frame
      // is row-identical to the self-contained per-shard branches
      val assigned = StreamingOps.semanticGateAssign(vecs, cents).cache()
      try {
        val onceMerged = (0 until 3).flatMap(s =>
          key(StreamingOps.semanticGateVerifyShard(assigned, membersCached,
            s * width, s * width + width))).toMap
        assert(onceMerged == full,
          s"assign-once drifted: ${(onceMerged.toSet diff full.toSet).take(3)}")
      } finally assigned.unpersist()
    } finally membersCached.unpersist()
  }

  test("streamingSemanticGateStaged: full sf0.01 replay matches batch, and " +
    "every probe lands in its index-assigned routed cell") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf001 = "/root/testdata/sf0.01"
    val dir = java.nio.file.Files.createTempDirectory("graft_staged_gate").toString
    val (coarse, fine, members) = graft.queries.SimilarityQueries
      .semanticStreamIndexStaged(spark, sf001)
    graft.queries.SimilarityQueries.writeGateIndexStaged(spark, dir, coarse, fine, members)
    val membersCached = spark.read.parquet(s"$dir/members.parquet").cache()
    // REAL parquet round-trip: the head reads the layout the index
    // writer produced, not an in-memory shortcut
    val tabs = graft.queries.SimilarityQueries.stagedGateTablesAt(spark, dir)
    val mem = MemoryStream[(Long, Seq[Float])]
    val query = StreamingOps.streamingSemanticGateStaged(
        mem.toDS().toDF("vec_id", "embedding"), tabs, membersCached)
      .writeStream.format("memory").queryName("semantic_gate_staged_out")
      .outputMode("append").start()
    try {
      def gateKey(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("cid"), r.getAs[Int]("n_cell_members"),
            r.getAs[Double]("best_cos"), r.getAs[Boolean]("semantic_near_dup"))))
          .toMap
      val batch = gateKey(StreamingOps.streamingSemanticGateStaged(
        Tables.embeddings(spark, sf001).select(col("vec_id"), col("embedding")),
        tabs, membersCached))
      // routing determinism: a replayed corpus vector must land in the
      // cell the index build assigned it (same kernels, same tables)
      val indexCid = membersCached
        .select(col("cid"), explode(col("members")).as("m"))
        .select(col("m.vec_id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(batch.keySet == indexCid.keySet)
      batch.foreach { case (k, b) =>
        assert(b._1 == indexCid(k), s"vec $k routed to ${b._1}, index has ${indexCid(k)}")
      }
      // stream ≡ batch on a full replay (the head is a stream-static join
      // — exercise it under the streaming engine, not just the planner)
      val all = Tables.embeddings(spark, sf001)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
      all.grouped(120).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val streamed = gateKey(spark.table("semantic_gate_staged_out"))
      assert(streamed.keySet == batch.keySet,
        s"coverage differs: ${streamed.size} vs ${batch.size}")
      batch.foreach { case (k, b) =>
        assert(streamed(k) == b, s"vec $k: streamed=${streamed(k)} batch=$b")
      }
    } finally {
      query.stop()
      tabs.cells.unpersist()
      membersCached.unpersist()
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("streamingSemanticGateStaged: assignment through the written parquet " +
    "layout == plain-Scala routed argmin on the sf0.01 replay, with O(√K) " +
    "collected routing state") {
    val sf001 = "/root/testdata/sf0.01"
    val dir = java.nio.file.Files.createTempDirectory("graft_staged_assign").toString
    try {
      val (coarse0, fine0, members) = graft.queries.SimilarityQueries
        .semanticStreamIndexStaged(spark, sf001)
      val kFine = graft.queries.SimilarityQueries
        .writeGateIndexStaged(spark, dir, coarse0, fine0, members)
      val staged = graft.queries.SimilarityQueries.stagedGateTablesAt(spark, dir)
      // the head's collected routing state is the coarse table alone:
      // O(√K) entries, strictly fewer than K fine centroids
      assert(staged.coarse.length <= math.ceil(math.sqrt(kFine.toDouble)).toInt,
        s"staged coarse table ${staged.coarse.length} rows vs K=$kFine")
      // reference tables straight from the written parquet
      val fineRows = spark.read.parquet(s"$dir/fine.parquet").collect()
        .map(r => (r.getInt(1), (r.getInt(0), r.getSeq[Long](2).toSeq)))
        .sortBy(_._1)
      assert(fineRows.map(_._1).toSeq == (0 until kFine.toInt))
      val coarseOf = spark.read.parquet(s"$dir/coarse.parquet").collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq).toMap
      val coarseByCc = (0 to coarseOf.keys.max).map(coarseOf.getOrElse(_, Seq.empty[Long]))
      val fine = fineRows.map(_._2._2).toSeq
      val f2c = fineRows.map(_._2._1).toSeq
      val vecs = Tables.embeddings(spark, sf001)
        .select(col("vec_id"), col("embedding"))
      try {
        val got = StreamingOps.semanticGateAssignStaged(vecs, staged)
          .select(col("vec_id"), col("cid")).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        // the engine's quantization, then the plain-Scala argmin
        val mud = vecs.select(col("vec_id"),
            transform(col("embedding"), x => round(x * lit(1e6)).cast("long")))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
        assert(got.keySet == mud.map(_._1).toSet)
        mud.foreach { case (id, v) =>
          val want = SemDedupKernelFuzzSpec.routedArgmin(v, fine, coarseByCc, f2c)
          assert(got(id) == want, s"vec $id: staged=${got(id)} brute=$want")
        }
      } finally staged.cells.unpersist()
    } finally {
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("semanticAdmitBatch: online admit loop — chunked replay == one-shot " +
    "== plain-Scala per-cell greedy; duplicates flagged, survivors grow " +
    "the index") {
    val sf001 = "/root/testdata/sf0.01"
    def freshIdx(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_admit").toString
      val (coarse, fine, members) = graft.queries.SimilarityQueries
        .semanticStreamIndexStaged(spark, sf001)
      graft.queries.SimilarityQueries.writeGateIndexStaged(spark, dir, coarse, fine, members)
      // start from an EMPTY membership under the frozen tables: the admit
      // loop itself populates the index
      members.limit(0).write.mode("overwrite").parquet(s"$dir/members.parquet")
      dir
    }
    // stream: the corpus + exact duplicates (vec_id % 10 == 0 reappears
    // with a shifted id — cos 1.0, must be flagged once the original is in)
    val base = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
    val stream = base.union(
        base.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    def tablesOf(dir: String) = graft.queries.SimilarityQueries.stagedGateTables(
      spark.read.parquet(s"$dir/coarse.parquet"),
      spark.read.parquet(s"$dir/fine.parquet"))
    def admitAll(chunk: Int): Map[Long, Boolean] = {
      import spark.implicits._
      val dir = freshIdx()
      // frozen tables hoisted ONCE outside the loop — the foreachBatch
      // contract (per-batch reconstruction is pure startup waste)
      val tabs = tablesOf(dir)
      try {
        stream.grouped(chunk).flatMap { rows =>
          StreamingOps.semanticAdmitBatch(dir, tabs,
              rows.toSeq.toDF("vec_id", "embedding"))
            .collect()
            .map(r => r.getLong(0) -> r.getBoolean(2))
        }.toMap
      } finally {
        tabs.cells.unpersist()
        queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
      }
    }
    val chunked = admitAll(150)
    val oneShot = admitAll(stream.length)
    assert(chunked == oneShot,
      "admitted set must be invariant to how a vec_id-monotone stream is chunked")
    // plain-Scala replay: frozen-cell assignment + per-cell vec_id-greedy
    val dir2 = freshIdx()
    val staged2 = tablesOf(dir2)
    val model: Map[Long, Boolean] = try {
      import spark.implicits._
      val cids = StreamingOps.semanticGateAssignStaged(
          stream.toSeq.toDF("vec_id", "embedding"), staged2)
        .select(col("vec_id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      def cos6(e: Seq[Float], e2: Seq[Float]): Double = {
        def nrm(v: Seq[Float]) = math.sqrt(
          v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
        val (n, n2) = (nrm(e), nrm(e2))
        if (n * n2 == 0.0) return -2.0
        val dot = e.indices.foldLeft(0.0)((a, i) => a + e(i).toDouble * e2(i).toDouble)
        new java.math.BigDecimal(dot / (n * n2))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      val flags = scala.collection.mutable.Map[Long, Boolean]()
      stream.groupBy(v => cids(v._1)).foreach { case (_, cell) =>
        val admitted = scala.collection.mutable.ArrayBuffer[Seq[Float]]()
        cell.sortBy(_._1).foreach { case (id, e) =>
          val dup = admitted.exists(a => cos6(e, a) >= 0.9)
          if (!dup) admitted += e
          flags(id) = dup
        }
      }
      flags.toMap
    } finally {
      staged2.cells.unpersist()
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir2))
    }
    assert(chunked.keySet == model.keySet)
    model.foreach { case (id, f) =>
      assert(chunked(id) == f, s"vec $id: admit=${chunked(id)} model=$f")
    }
    // the duplicates must actually have been caught: every shifted copy
    // whose original sits in the SAME cell flags as a near-dup
    val nDup = chunked.count(kv => kv._1 >= 100000L && kv._2)
    assert(nDup > 0, "fixture produced no flagged duplicates — test is vacuous")
  }

  test("semanticAdmitBatch is replay-safe: re-running a committed batch " +
    "returns the same flags and leaves the index unchanged (foreachBatch " +
    "at-least-once)") {
    import spark.implicits._
    val sf001 = "/root/testdata/sf0.01"
    val dir = java.nio.file.Files.createTempDirectory("graft_admit_replay").toString
    val (coarse0, fine0, members0) = graft.queries.SimilarityQueries
      .semanticStreamIndexStaged(spark, sf001)
    graft.queries.SimilarityQueries.writeGateIndexStaged(spark, dir, coarse0, fine0, members0)
    members0.limit(0).write.mode("overwrite").parquet(s"$dir/members.parquet")
    val tabs = graft.queries.SimilarityQueries.stagedGateTables(
      spark.read.parquet(s"$dir/coarse.parquet"),
      spark.read.parquet(s"$dir/fine.parquet"))
    try {
      val batch = Tables.embeddings(spark, sf001)
        .select(col("vec_id"), col("embedding")).limit(200)
      def run(): Map[Long, Boolean] =
        StreamingOps.semanticAdmitBatch(dir, tabs, batch)
          .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      val first = run()
      val membership1 = graft.queries.SimilarityQueries
        .readCellMembersMerged(spark, dir)
        .select(explode(col("members.vec_id"))).collect()
        .map(_.getLong(0)).sorted.toSeq
      val filesAfterFirst = new java.io.File(s"$dir/members.parquet")
        .listFiles().length
      val replay = run()
      assert(replay == first,
        "a replayed batch must return the ORIGINAL flags (self-matches excluded)")
      val membership2 = graft.queries.SimilarityQueries
        .readCellMembersMerged(spark, dir)
        .select(explode(col("members.vec_id"))).collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(membership2 == membership1,
        "a replayed batch must not re-append already-admitted vectors")
      // an all-replayed batch admits nothing NEW: no empty delta job, no
      // extra files
      assert(new java.io.File(s"$dir/members.parquet").listFiles().length
        == filesAfterFirst, "a replayed batch must not write an empty delta")
    } finally {
      tabs.cells.unpersist()
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("semanticAdmitBatch runs as an actual foreachBatch body: a live " +
    "streaming query admits the same set as the direct chunked replay") {
    // the docs call semanticAdmitBatch "the production foreachBatch body";
    // every other pin drives it as a direct call on the test thread. This
    // runs it under the real streaming engine — micro-batch triggers, the
    // stream-execution thread (a DIFFERENT thread than the builder's, so
    // the index lock's thread-reentrancy is exercised off the main
    // thread), and the engine-provided batch frames — and checks flag
    // parity with the direct-call form on an identical fresh index.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf001 = "/root/testdata/sf0.01"
    def freshIdx(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_admit_fb").toString
      val (coarse, fine, members) = graft.queries.SimilarityQueries
        .semanticStreamIndexStaged(spark, sf001)
      graft.queries.SimilarityQueries.writeGateIndexStaged(spark, dir, coarse, fine, members)
      members.limit(0).write.mode("overwrite").parquet(s"$dir/members.parquet")
      dir
    }
    def tablesOf(dir: String) = graft.queries.SimilarityQueries.stagedGateTables(
      spark.read.parquet(s"$dir/coarse.parquet"),
      spark.read.parquet(s"$dir/fine.parquet"))
    val base = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).limit(400)
    val stream = base.union(
        base.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    // live streaming query: three addData rounds → three micro-batches
    val dirS = freshIdx()
    val tabsS = tablesOf(dirS)
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    val mem = MemoryStream[(Long, Seq[Float])]
    val query = mem.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingOps.semanticAdmitBatch(dirS, tabsS, df)
          .collect().foreach(r => got.put(r.getLong(0), r.getBoolean(2)))
      }
      .start()
    try {
      stream.grouped((stream.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toSeq)
        query.processAllAvailable()
      }
    } finally {
      query.stop()
      tabsS.cells.unpersist()
    }
    // direct-call twin on its own fresh index, same chunking
    val dirD = freshIdx()
    val tabsD = tablesOf(dirD)
    val want: Map[Long, Boolean] = try {
      stream.grouped((stream.length + 2) / 3).flatMap { rows =>
        StreamingOps.semanticAdmitBatch(dirD, tabsD, rows.toSeq.toDF("vec_id", "embedding"))
          .collect().map(r => r.getLong(0) -> r.getBoolean(2))
      }.toMap
    } finally tabsD.cells.unpersist()
    try {
      assert(got.size == want.size && stream.length == got.size)
      want.foreach { case (id, f) =>
        assert(got.get(id) == f, s"vec $id: stream=${got.get(id)} direct=$f")
      }
      assert(want.exists(_._2), "fixture produced no flagged duplicates — vacuous")
      // both loops grew IDENTICAL index membership
      def membership(dir: String) = graft.queries.SimilarityQueries
        .readCellMembersMerged(spark, dir)
        .select(explode(col("members.vec_id"))).collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(membership(dirS) == membership(dirD),
        "streaming and direct admit loops must admit the same members")
    } finally {
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dirS))
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dirD))
    }
  }

  test("streamingCurationGate: stateless quality+decontamination flags match batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
      .select(explode(graft.functions.GraftFunctions
        .hashedWordNgrams(col("text"), 5)).as("g")).distinct()
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDS().toDF("doc_id", "lang", "text")
    val query = StreamingOps.streamingCurationGate(docs, bench)
      .writeStream.format("memory").queryName("curation_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "en", "a document with quick brown fox jumps over copied text inside"),
        (2L, "en", "totally original content that is long enough to keep around"),
        (3L, "en", "too short"))
      query.processAllAvailable()
      // cross-batch: the gate is stateless, later batches behave identically
      mem.addData((4L, "en", "another clean document of adequate length for the gate"))
      query.processAllAvailable()
      val rows = spark.table("curation_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("quality_ok"), r.getAs[Boolean]("contaminated"),
            r.getAs[Boolean]("keep"))).toMap
      assert(rows(1L) == ((true, true, false)), s"got ${rows(1L)}")
      assert(rows(2L) == ((true, false, true)))
      assert(rows(3L) == ((false, false, false)))
      assert(rows(4L) == ((true, false, true)))
    } finally query.stop()
  }

  test("streamingSessionize: gap and timeout paths close the same sessions as batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.SessionEvent
    val min = 60L * 1000 * 1000
    val mem = MemoryStream[SessionEvent]
    val query = StreamingOps.streamingSessionize(mem.toDS(), gapUs = 30 * min,
        watermark = "1 minute")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: three events 10min apart (one session), then one 2h later
      // (gap-path close); user 2: one event (timeout-path close)
      // base offset keeps the first event strictly above the initial
      // epoch-0 watermark (an event AT the watermark is filtered as late)
      val b = 100 * min
      mem.addData(
        SessionEvent(1L, b), SessionEvent(1L, b + 10 * min), SessionEvent(1L, b + 20 * min),
        SessionEvent(2L, b + 5 * min))
      query.processAllAvailable()
      mem.addData(SessionEvent(1L, b + 140 * min))
      query.processAllAvailable()
      // watermark pusher: far-future event flushes every open session
      mem.addData(SessionEvent(99L, b + 1000 * min))
      query.processAllAvailable()
      mem.addData(SessionEvent(98L, b + 2000 * min))
      query.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("startTsUs")) -> r).toMap
      // user 1 session 1: closed by the 140min event's gap
      assert(rows.contains((1L, b)), s"sessions: ${rows.map { case (k, r) =>
        (k, r.getAs[Long]("endTsUs"), r.getAs[Long]("nEvents")) }.toList.sortBy(_._1)}")
      val s11 = rows((1L, b))
      assert(s11.getAs[Long]("nEvents") == 3 && s11.getAs[Long]("durUs") == 20 * min)
      // user 2: closed by watermark timeout
      val s2 = rows((2L, b + 5 * min))
      assert(s2.getAs[Long]("nEvents") == 1 && s2.getAs[Long]("durUs") == 0)
      // user 1 session 2: closed once the watermark passed 140min + gap
      assert(rows.contains((1L, b + 140 * min)), s"open session not flushed: ${rows.keys}")
    } finally query.stop()
  }

  test("streamingSessionize: late-but-within-watermark event lowers session start") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.SessionEvent
    val min = 60L * 1000 * 1000
    val mem = MemoryStream[SessionEvent]
    // 30-minute watermark so a cross-batch out-of-order event survives the
    // late filter; batch q81 computes true min/max per session, so the
    // merge must take min() on start, not keep first-seen
    val query = StreamingOps.streamingSessionize(mem.toDS(), gapUs = 30 * min,
        watermark = "30 minutes")
      .writeStream.format("memory").queryName("sess_ooo_out")
      .outputMode("append").start()
    try {
      val b = 100 * min
      mem.addData(SessionEvent(7L, b + 10 * min))
      query.processAllAvailable()
      // out-of-order: PRECEDES the open session's first-seen event but is
      // within the watermark (wm = b+10min - 30min)
      mem.addData(SessionEvent(7L, b + 5 * min))
      query.processAllAvailable()
      // watermark pusher flushes the open session via the timeout path
      mem.addData(SessionEvent(99L, b + 2000 * min))
      query.processAllAvailable()
      mem.addData(SessionEvent(98L, b + 4000 * min))
      query.processAllAvailable()
      val rows = spark.table("sess_ooo_out").collect()
        .filter(_.getAs[Long]("userId") == 7L)
      assert(rows.length == 1, rows.mkString(";"))
      val s = rows.head
      assert(s.getAs[Long]("startTsUs") == b + 5 * min, s.toString)
      assert(s.getAs[Long]("endTsUs") == b + 10 * min, s.toString)
      assert(s.getAs[Long]("nEvents") == 2 && s.getAs[Long]("durUs") == 5 * min,
        s.toString)
    } finally query.stop()
  }

  test("streamingSessionize: interval-merge state — a late event beyond the gap " +
    "opens a parallel session (split) and a late event between two open " +
    "sessions fuses them (bridge), matching batch q81") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.SessionEvent
    val min = 60L * 1000 * 1000
    val mem = MemoryStream[SessionEvent]
    // gap 15 min, watermark 60 min: disorder window is wider than the
    // gap, so batch q81 can place a late event in its OWN earlier session
    // — the single-open-session state had nowhere to put it (pre-fix it
    // fused [70,100] for user A, which batch q81 splits)
    val query = StreamingOps.streamingSessionize(mem.toDS(), gapUs = 15 * min,
        watermark = "60 minutes")
      .writeStream.format("memory").queryName("sess_merge_out")
      .outputMode("append").start()
    try {
      val b = 1000 * min
      // batch 1 — user A: one event; user B: two events 25 min apart
      // (> gap, so two open sessions). Watermark after this batch:
      // b+125min − 60min = b+65min.
      mem.addData(SessionEvent(11L, b + 100 * min),
        SessionEvent(22L, b + 100 * min), SessionEvent(22L, b + 125 * min))
      query.processAllAvailable()
      // batch 2 — user A: late event at b+70min (above the b+65min
      // watermark, 30min before the open session: > gap → SPLIT); user B:
      // late event at b+112min, within gap of BOTH open sessions → BRIDGE
      mem.addData(SessionEvent(11L, b + 70 * min), SessionEvent(22L, b + 112 * min))
      query.processAllAvailable()
      // watermark pushers flush everything via the timeout path
      mem.addData(SessionEvent(99L, b + 2000 * min))
      query.processAllAvailable()
      mem.addData(SessionEvent(98L, b + 4000 * min))
      query.processAllAvailable()
      val rows = spark.table("sess_merge_out").collect()
        .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("startTsUs")) ->
          (r.getAs[Long]("endTsUs"), r.getAs[Long]("nEvents"))).toMap
      // user A: TWO sessions, exactly what batch q81 computes with gap 15
      assert(rows((11L, b + 70 * min)) == ((b + 70 * min, 1L)), rows.toString)
      assert(rows((11L, b + 100 * min)) == ((b + 100 * min, 1L)), rows.toString)
      // user B: ONE fused session spanning both pre-bridge sessions
      assert(rows((22L, b + 100 * min)) == ((b + 125 * min, 3L)), rows.toString)
      assert(!rows.contains((22L, b + 112 * min)) &&
        !rows.contains((22L, b + 125 * min)), rows.toString)
    } finally query.stop()
  }

  test("streamingDsirGate: per-row fold scores match the batch explode+join form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val model = graft.queries.CurationQueries.dsirModel(spark, sf)
    // stream a mix of real corpus docs and one stream-only doc (unseen
    // vocabulary exercises the default-bucket log-ratio)
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(6).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val fresh = (900001L, "zzqx unseen vocabulary tokens qqqqzz wholly novel stream words")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val query = StreamingOps.streamingDsirGate(docs, model)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      mem.addData((corpus :+ fresh).toSeq: _*)
      query.processAllAvailable()
      val got = spark.table("dsir_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("s_micro"), r.getAs[Boolean]("keep"))).toMap
      // batch recomputation: explode + join the lm table + default
      val batchDocs = (corpus :+ fresh).toSeq.toDF("doc_id", "text")
      val expect = batchDocs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
        .withColumn("hb", graft.functions.GraftFunctions.md5PrefixInt(col("w"))
          % graft.queries.CurationQueries.DsirBuckets)
        .join(model.lm, Seq("hb"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(coalesce(col("lr_micro"), lit(model.defaultLrMicro))).as("s_micro"),
          count(lit(1)).as("n_tok"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("s_micro"),
            r.getAs[Long]("s_micro") * model.totN > model.totS * r.getAs[Long]("n_tok")))
        .toMap
      assert(got.keySet == expect.keySet)
      got.foreach { case (id, (s, k)) =>
        assert((s, k) == expect(id), s"doc $id: got ($s,$k) expected ${expect(id)}")
      }
      // the corpus-average threshold keeps some and drops some across the feed
      assert(got.values.exists(_._2) || got.values.forall(!_._2))
    } finally query.stop()
  }

  test("streamingFormationSignals ∘ streamingTripleBarrier == the batch " +
    "formation→barrier chain") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.StreamingOps.{BarrierConfig, StreamBar}
    import graft.operators.{Barriers, BarFrame}
    import graft.queries.EventBars

    val cfg = BarrierConfig(tpPct = 0.0075, slPct = 0.0075, maxBars = 20)
    val bars = EventBars.bars(spark, sf)
    val allBars = bars
      .select("event_type", "ts_us", "event_id", "open", "high", "low", "close", "rn")
      .collect()
      .map(r => StreamBar(r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getInt(7)))
      .sortBy(b => (b.tsUs, b.eventId))

    // batch twin: 2down_ng over the same series, one barrier config.
    // Stream rn counts ARRIVED bars; the bars frame starts at rn=2 (first
    // raw row has no open), so stream warmup 20 ⇔ batch rn > 21.
    val w = BarFrame.series(Seq(col("event_type")), col("ts_us"), col("event_id"))
    val flagged = bars
      .withColumn("dir_0", BarFrame.direction(col("open"), col("close")))
      .withColumn("dir_1", lag(col("dir_0"), 1).over(w))
    val isSig = col("rn") > 21 && col("dir_1") === 0 && col("dir_0") === 0
    val sig = EventBars.signalForwardArrays(flagged, isSig, 35)
      .withColumn("entry_price", try_element_at(col("fwd_opens"), lit(1)))
      .filter(col("entry_price").isNotNull && col("entry_price") > 0)
      .withColumn("tp_pct", lit(cfg.tpPct))
      .withColumn("sl_pct", lit(cfg.slPct))
      .withColumn("max_bars", lit(cfg.maxBars))
    val batch = Barriers.tripleBarrier(sig).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id")) ->
        (r.getAs[String]("exit_type"), r.getAs[Long]("exit_bar").toInt))
      .toMap

    val mem = MemoryStream[StreamBar]
    val flaggedStream = graft.streaming.StreamingOps.streamingFormationSignals(
      mem.toDS(),
      (d0, d1, _) => d0 == 0 && d1.contains(0),
      warmupBars = 20)
    val trades = graft.streaming.StreamingOps.streamingTripleBarrier(flaggedStream, cfg)
    val query = trades
      .writeStream.format("memory").queryName("composed_trades")
      .outputMode("append").start()
    try {
      val cuts = Seq(0.2, 0.5, 0.9, 1.0).map(f => (allBars.length * f).toInt)
      var lo = 0
      cuts.foreach { hi =>
        if (hi > lo) mem.addData(allBars.slice(lo, hi).toIndexedSeq: _*)
        query.processAllAvailable()
        lo = hi
      }
      val streamed = spark.table("composed_trades").collect()
        .map(r => (r.getAs[String]("series"), r.getAs[Long]("signalEventId")) ->
          (r.getAs[String]("exitType"), r.getAs[Int]("exitBar")))
        .toMap
      assert(streamed.nonEmpty, "composed stream produced no trades")
      assert(streamed.keySet == batch.keySet,
        s"signal sets differ: stream-only=${streamed.keySet -- batch.keySet} " +
          s"batch-only=${batch.keySet -- streamed.keySet}")
      streamed.foreach { case (k, s) => assert(s == batch(k), s"$k: $s vs ${batch(k)}") }
    } finally query.stop()
  }

  test("streamingTripleBarrier matches the batch engine trade-for-trade " +
    "across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.{BarrierConfig, StreamBar}

    // q18's exact configuration on the same sf0.001 bar series
    val cfg = BarrierConfig(tpPct = 0.01, slPct = 0.005, maxBars = 20)
    val allBars = graft.queries.EventBars.bars(spark, sf)
      .select("event_type", "ts_us", "event_id", "open", "high", "low", "close", "rn")
      .collect()
      .map(r => StreamBar(r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getInt(7)))
      .sortBy(b => (b.tsUs, b.eventId)) // global arrival order, per-series order implied
    assert(allBars.length > 500)

    val mem = MemoryStream[StreamBar]
    val query = StreamingOps.streamingTripleBarrier(mem.toDS(), _.rn % 25 == 0, cfg)
      .writeStream.format("memory").queryName("stream_trades")
      .outputMode("append").start()
    try {
      // feed in 7 uneven chunks so open trades routinely straddle
      // micro-batch boundaries
      val cuts = Seq(0.03, 0.10, 0.25, 0.4, 0.55, 0.8, 1.0).map(f => (allBars.length * f).toInt)
      var lo = 0
      cuts.foreach { hi =>
        if (hi > lo) mem.addData(allBars.slice(lo, hi).toIndexedSeq: _*)
        query.processAllAvailable()
        lo = hi
      }
      def grid6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val streamed = spark.table("stream_trades").collect()
        .map(r => (r.getAs[String]("series"), r.getAs[Long]("signalEventId")) ->
          (r.getAs[String]("exitType"), r.getAs[Int]("exitBar"),
            grid6(r.getAs[Double]("entryPrice")), grid6(r.getAs[Double]("exitPrice"))))
        .toMap

      val batch = graft.queries.BarrierQueries.q18TripleBarrier(spark, sf).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id")) ->
          (r.getAs[String]("exit_type"), r.getAs[Long]("exit_bar").toInt,
            r.getAs[Double]("entry_price"), r.getAs[Double]("exit_price")))
        .toMap

      // the batch engine also completes trades whose barriers resolve, and
      // ONLY those (INCOMPLETE is dropped on both sides)
      assert(streamed.keySet == batch.keySet,
        s"trade sets differ: stream-only=${streamed.keySet -- batch.keySet} " +
          s"batch-only=${batch.keySet -- streamed.keySet}")
      assert(streamed.nonEmpty, "no trades completed — fixture too small")
      streamed.foreach { case (k, s) =>
        assert(s == batch(k), s"trade $k: streamed=$s batch=${batch(k)}")
      }
    } finally query.stop()
  }

  test("streamingAsofJoin: full sf0.01 click/purchase replay matches batch q100") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.AsofEvent
    val sf001 = "/root/testdata/sf0.01"
    val ev0 = Tables.events(spark, sf001)
    val base = ev0.select(col("user_id"), Tables.tsUs(ev0).as("ts_us"),
      col("event_type"), col("value"))
      .filter(col("event_type").isin("click", "purchase"))
      .orderBy(col("ts_us")).collect()
      .map(r => AsofEvent(r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
        r.getAs[String]("event_type") == "click", r.getAs[Double]("value")))
    val mem = MemoryStream[AsofEvent]
    val query = StreamingOps.streamingAsofJoin(mem.toDS())
      .writeStream.format("memory").queryName("asof_replay_out")
      .outputMode("append").start()
    try {
      base.grouped(1000).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val far = base.last.tsUs + 10L * 3600 * 1000 * 1000
      mem.addData(AsofEvent(-1L, far, isLeft = false, 0.0))
      query.processAllAvailable()
      mem.addData(AsofEvent(-2L, far * 2, isLeft = false, 0.0))
      query.processAllAvailable()
      val streamed = spark.table("asof_replay_out")
        .filter(col("userId") >= 0).collect()
        .map { r =>
          val mtI = r.fieldIndex("matchTsUs")
          val mvI = r.fieldIndex("matchValue")
          val mt = if (r.isNullAt(mtI)) None else Some(r.getLong(mtI))
          val mv = if (r.isNullAt(mvI)) None else Some(r.getDouble(mvI))
          (r.getAs[Long]("userId"), r.getAs[Long]("tsUs")) -> ((mt, mv))
        }.toMap
      val batch = graft.queries.AsofQueries.q100AsofBackward(spark, sf001)
        .collect()
        .map { r =>
          val mt = if (r.isNullAt(4)) None else Some(r.getLong(4))
          val mv = if (r.isNullAt(5)) None else Some(r.getDouble(5))
          (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us")) -> ((mt, mv))
        }.toMap
      assert(streamed.keySet == batch.keySet,
        s"key sets differ: stream-only=${(streamed.keySet -- batch.keySet).take(3)} " +
          s"batch-only=${(batch.keySet -- streamed.keySet).take(3)}")
      batch.foreach { case (k, b) =>
        assert(streamed(k) == b, s"click $k: streamed=${streamed(k)} batch=$b")
      }
    } finally query.stop()
  }

  test("streamingAsofJoin: watermark-boundary contract — a right AT the " +
    "watermark is dropped by Spark, so emitting lefts at ts <= wm is safe") {
    // Spark's stateful late-row predicate is event_time <= watermark
    // (LessThanOrEqual in WatermarkSupport.watermarkExpression, 4.1.2):
    // a right with ts == wm can never reach the operator, so a left at the
    // same ts may emit as soon as wm reaches its ts without missing a
    // legal match. This pins that boundary — if a future Spark switches to
    // a strict predicate, the last assertion fails and the emission
    // partition in streamingAsofJoin must become strict too.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.AsofEvent
    val T = 1000L * 1000000L // 1000 s in µs
    val T0 = T - 100L * 1000000L // an earlier right: the expected prevailing
    val delay = 600L * 1000000L // the default 10-minute watermark
    val mem = MemoryStream[AsofEvent]
    val query = StreamingOps.streamingAsofJoin(mem.toDS())
      .writeStream.format("memory").queryName("asof_boundary_out")
      .outputMode("append").start()
    try {
      def feed(evs: AsofEvent*): Unit = {
        mem.addData(evs.toIndexedSeq); query.processAllAvailable()
      }
      def outMap() = spark.table("asof_boundary_out")
        .filter(col("userId") === 1L).collect()
        .map(r => r.getAs[Long]("tsUs") ->
          (if (r.isNullAt(r.fieldIndex("matchTsUs"))) None
           else Some((r.getAs[Long]("matchTsUs"), r.getAs[Double]("matchValue")))))
        .toMap
      feed(AsofEvent(1L, T0, isLeft = false, 3.0), // prevailing right
        AsofEvent(1L, T, isLeft = true, 1.0)) // the boundary left, held
      feed(AsofEvent(-1L, T + delay, isLeft = false, 0.0)) // wm -> exactly T
      // a data-triggered invocation for user 1 at wm == T: the held left at
      // ts == wm emits NOW (<= partition), matched to the earlier right
      feed(AsofEvent(1L, T + delay, isLeft = true, 2.0))
      assert(outMap() == Map(T -> Some((T0, 3.0))),
        "left at ts == wm must emit promptly with the prevailing match")
      // a right at ts == wm == T arriving now is late per Spark's <=
      // predicate and must be dropped, never rewriting history
      feed(AsofEvent(1L, T, isLeft = false, 7.0))
      // push the watermark far past everything to flush the second left
      feed(AsofEvent(-2L, T + 10 * delay, isLeft = false, 0.0))
      feed(AsofEvent(-3L, T + 20 * delay, isLeft = false, 0.0))
      val out = outMap()
      assert(out.keySet == Set(T, T + delay), s"both lefts must flush: $out")
      assert(out(T) == Some((T0, 3.0)), s"boundary left keeps its match: $out")
      assert(out(T + delay) == Some((T0, 3.0)),
        s"the boundary-late right must have been dropped (got $out) — if this " +
          "now matches (1000000000000, 7.0), Spark's late predicate became " +
          "strict and streamingAsofJoin's emission partition must follow")
    } finally query.stop()
  }

  test("streamingSessionize: full sf0.01 events replay matches batch q81 user-for-user") {
    // the real-fixture parity oracle: the ENTIRE sf0.01 events table (10k
    // events, 150 users) replayed through the stateful streaming operator in
    // event-time order across micro-batches must reproduce batch q81's
    // per-user session census EXACTLY (the crafted-timeline cases above pin
    // edge semantics; this pins the operator on production-shaped data).
    // In-order replay keeps every event inside the watermark, so no
    // allowed-delta carve-outs are needed; out-of-order replay beyond the
    // watermark is the one case where streaming may legitimately differ
    // (documented on streamingExactDedup — bounded state drops what the
    // batch backstop recovers).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.SessionEvent
    val sf001 = "/root/testdata/sf0.01"
    val ev0 = Tables.events(spark, sf001)
    val all = ev0.select(col("user_id"), Tables.tsUs(ev0).as("ts_us"))
      .orderBy(col("ts_us")).collect()
      .map(r => SessionEvent(r.getAs[Long]("user_id"), r.getAs[Long]("ts_us")))
    val mem = MemoryStream[SessionEvent]
    val query = StreamingOps.streamingSessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_replay_out")
      .outputMode("append").start()
    try {
      all.grouped(1000).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      // two far-future pusher events advance the watermark past every open
      // session's last+gap, draining state through the timeout path
      val far = all.last.tsUs + 10L * 3600 * 1000 * 1000
      mem.addData(SessionEvent(-1L, far)); query.processAllAvailable()
      mem.addData(SessionEvent(-2L, far * 2)); query.processAllAvailable()
      // fold streamed sessions to q81's per-user census in the same exact
      // integer math, then compare row sets
      val streamed = spark.table("sess_replay_out")
        .filter(col("userId") >= 0)
        .groupBy(col("userId").as("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("nEvents")).as("n_events"),
          expr("(1000 * sum(nEvents)) div count(1)").as("avg_events_per_session_milli"),
          expr("sum(durUs) div (1000 * count(1))").as("avg_session_ms"),
          expr("max(durUs) div 1000").as("max_session_ms"))
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val batch = graft.queries.CoreQueries.q81Sessionization(spark, sf001)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(streamed.keySet == batch.keySet,
        s"user sets differ: stream-only=${streamed.keySet -- batch.keySet} " +
          s"batch-only=${batch.keySet -- streamed.keySet}")
      streamed.foreach { case (u, s) =>
        assert(s == batch(u), s"user $u: streamed=$s batch=${batch(u)}")
      }
    } finally query.stop()
  }
}
