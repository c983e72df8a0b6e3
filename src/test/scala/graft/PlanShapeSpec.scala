package graft

import graft.queries._

/** Guards the PHYSICAL plan shapes that matter at 100 TB — not just that
  * queries return right answers, but that they keep returning them with
  * the plan we designed: filters reaching the parquet scan, column
  * pruning, small sides broadcast (no shuffle of the corpus), and no
  * accidental extra exchanges.
  */
class PlanShapeSpec extends GraftSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    // plan shapes must be asserted cache-free: CacheManager substitutes
    // InMemoryRelation into ANY later plan whose subtree matches a frame a
    // previous suite persisted outside an owning scope (e.g. a query
    // frame cached through StagingRoots.persist when a spec calls the
    // query directly), which moves exchanges around and makes these
    // assertions depend on suite ordering
    spark.catalog.clearCache()
    df.queryExecution.executedPlan.toString
  }

  test("q24 scans only the columns it needs (column pruning)") {
    val p = plan(TextQueries.q24ExactDedup(spark, sf))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("text") && readSchema.contains("source"))
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"over-read: $readSchema")
  }

  test("q05 broadcasts the small dimension (no shuffle of nation)") {
    val p = plan(CoreQueries.q05JoinEqui(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q29 broadcasts the probe side; corpus is never shuffled for the join") {
    val p = plan(SimilarityQueries.q29AnnTopk(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side not broadcast:\n$p")
  }

  test("q43 sweep: barrier grid is broadcast, not shuffled") {
    val p = plan(SweepQueries.q43FormationBarrierSweep(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), s"grid not broadcast:\n$p")
  }

  test("q18/q43 forward arrays: one streaming replay, no equi-join, no chunk column") {
    for ((name, df, exchanges) <- Seq(
        ("q18", BarrierQueries.q18TripleBarrier(spark, sf), 2),
        ("q43", SweepQueries.q43FormationBarrierSweep(spark, sf), 5))) {
      val p = plan(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
        !p.contains("ShuffledHashJoin"), s"$name: equi-join in the plan:\n$p")
      assert(!p.contains("chunk"), s"$name: chunk column in the plan:\n$p")
      assert(p.linesIterator.count(_.contains("MapGroups")) == 1,
        s"$name: not exactly one forward-array replay:\n$p")
      assert(p.linesIterator.count(_.contains("Exchange")) == exchanges,
        s"$name: exchange count moved:\n$p")
    }
  }

  test("q43/q18 barrier scans are codegen'd: no interpreted higher-order " +
    "function reads the forward arrays") {
    // Spark evaluates transform/zip_with/... as CodegenFallback: one
    // reintroduced lambda over fwd_* puts the sweep's hot stage back on
    // the interpreted path (boxed doubles + an UnsafeProjection copy of
    // every scanned row's forward arrays)
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Walk extends AdaptiveSparkPlanHelper
    for ((name, df) <- Seq(
        "q43" -> SweepQueries.q43FormationBarrierSweep(spark, sf),
        "q18" -> BarrierQueries.q18TripleBarrier(spark, sf))) {
      spark.catalog.clearCache()
      val executed = df.queryExecution.executedPlan
      val hofs = Walk.flatMap(executed)(_.expressions.flatMap(_.collect {
        case h: HigherOrderFunction
            if h.references.exists(_.name.toLowerCase.startsWith("fwd")) => h
      }))
      assert(hofs.isEmpty, s"$name: interpreted lambda over forward arrays: " +
        hofs.map(_.sql).mkString("; "))
      assert(Walk.find(executed)(_.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.FirstTouch]))).isDefined,
        s"$name: barrier scan no longer runs the first_touch kernel")
    }
  }

  test("q02 aggregates with partial (map-side) aggregation") {
    val p = plan(CoreQueries.q02CondAgg(spark, sf))
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    // partial + final pair ⇒ at least two HashAggregate nodes
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "missing partial aggregation")
  }

  test("q40 champion chain keeps a single window-sort exchange per series axis") {
    val df = ChampionQueries.q40Champion(spark, sf)
    val p = plan(df)
    // all window functions share the (event_type × ts ordering) — one
    // Exchange for the window stage + one for the final groupBy is the
    // designed shape; anything more means a window spec diverged.
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"too many exchanges ($exchanges):\n$p")
  }

  test("q30/q48 honor the probe-side broadcast (no dropped hint, no corpus shuffle)") {
    // a left-outer join cannot build its preserved side, so the old shape
    // silently dropped the broadcast hint (HintErrorLogger WARN) and at
    // scale would shuffle the corpus; the inner-join + re-attach shape
    // must keep every join a BroadcastHashJoin
    for (q <- Seq(SimilarityQueries.q30AnnLsh _, SimilarityQueries.q48AnnIvf _)) {
      val df = q(spark, sf)
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"corpus shuffled for an ANN probe join:\n$p")
    }
  }

  test("q01 pushes filters into the scan (PushedFilters)") {
    val p = plan(CoreQueries.q01FilteredScan(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("l_quantity"))
  }

  test("q45 adaptive chain: W6 quantiles run in SeriesReplay kernels, no quantile windows") {
    val df = AdaptiveQueries.all("q45_adaptive_threshold_signals")(spark, sf)
    val p = plan(df)
    // bars window (rn/open) → kernel #1 (lags, lead, ti quantile) →
    // champion filter → kernel #2 (two W6 quantiles over the filtered
    // subsequence, ~1/25 the rows) → output orderBy. The rolling
    // quantiles must NOT run as window aggregates (per-row frame
    // materialization); only the bars row_number/lag window remains.
    val windows = p.linesIterator.count(_.contains("windowspecdefinition"))
    val kernels = p.linesIterator.count(_.contains("MapGroups"))
    assert(kernels >= 2, s"SeriesReplay kernels missing from the plan:\n$p")
    assert(windows <= 2, s"rolling quantile fell back to a window stage:\n$p")
    assert(!p.contains("collect_list"),
      s"per-row frame materialization reappeared:\n$p")
    // exchange budget: bars window + 2 kernel groupings + output orderBy
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 4, s"extra exchanges ($exchanges):\n$p")
  }

  test("q55 decontamination: benchmark grams broadcast; corpus join is a semi-join") {
    val p = plan(TextQueries.q55Decontamination(spark, sf))
    assert(p.contains("BroadcastHashJoin LeftSemi") ||
      (p.contains("LeftSemi") && p.contains("BroadcastExchange")),
      s"benchmark set not broadcast-semi-joined:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the benchmark join:\n$p")
  }

  test("q52 cube: one cube expand feeding partial aggregation, no extra scan") {
    val p = plan(CoreQueries.q52CubeDistinct(spark, sf))
    assert(p.linesIterator.count(_.contains("Expand")) >= 2,
      s"multi-distinct cube rewrite missing:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"cube re-scanned its input:\n$p")
  }

  test("q60 corpus prep: decontamination rides a broadcast semi-join, no quadratic joins") {
    val p = plan(TextQueries.q60CorpusPrep(spark, sf))
    assert(p.contains("LeftSemi") && p.contains("BroadcastExchange"),
      s"benchmark grams not broadcast-semi-joined:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic join in the funnel:\n$p")
  }

  test("q62 repetition rules: map-only kernels — one scan, no joins, no window") {
    val p = plan(TextQueries.q62RepetitionRules(spark, sf))
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"corpus re-scanned:\n$p")
    assert(!p.contains("Join") && !p.contains("windowspecdefinition"),
      s"unexpected join/window in a map-only census:\n$p")
  }

  test("q63 semantic dedup: pairwise stage keyed on (cid, salt), no quadratic fallback") {
    val p = plan(SimilarityQueries.q63SemanticDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise stage fell back to a quadratic join:\n$p")
    assert(p.contains("cid"), s"cluster key missing from the plan:\n$p")
  }

  test("q54 packing: a single window exchange per shard axis") {
    val p = plan(TextQueries.q54SequencePack(spark, sf))
    // one shuffle for the per-source window, then the two census groupBys
    // ride AQE exchanges; the corpus text itself is projected to n_tok
    // before any exchange (no document bytes on the wire)
    val readSchema = p.linesIterator.filter(_.contains("windowspecdefinition")).size
    assert(readSchema >= 1, s"window stage missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q54/q109 skew-proof rankings: every corpus-sized window is " +
    "partitioned on (domain, bucket), never on the domain alone") {
    // the r13 rewrites: a per-source/lang window serializes ~1/nDomains
    // of the corpus onto one task; the q95 bucketed two-phase form keeps
    // per-row results identical while every corpus-sized window partition
    // carries the bucket axis. The offsets frame (nDomains × 4096 rows)
    // may legally window on the domain alone — so the pin is: every
    // windowspecdefinition over the CORPUS frame names `bucket`.
    for ((name, df) <- Seq(
        "q54" -> TextQueries.q54SequencePack(spark, sf),
        "q109" -> CurationQueries.q109TemperatureSampling(spark, sf))) {
      val p = plan(df)
      val corpusWindows = p.linesIterator
        .filter(_.contains("windowspecdefinition"))
        .filterNot(_.contains("bucket"))
        .toList
      // the only bucket-less windows allowed are over the tiny offsets
      // frame — they window on (source|lang, bucket-ORDERED) which still
      // mentions bucket in the ORDER clause, so anything here is a
      // regression to the serialized form
      assert(corpusWindows.isEmpty,
        s"$name: bucket-less window over a corpus-sized frame:\n" +
          corpusWindows.mkString("\n"))
    }
  }

  test("q104 heavy hitters: ranking rides TakeOrderedAndProject, not a " +
    "global single-partition window over the census") {
    val p = plan(CorpusOpsQueries.q104HeavyHitters(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"q104 must take its top-20 distributed:\n$p")
  }

  test("q73 classifier: map-only scoring — one corpus scan, no joins") {
    val p = plan(CurationQueries.q73QualityClassifier(spark, sf))
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"corpus re-scanned:\n$p")
    assert(!p.contains("Join"), s"unexpected join in a map-only scorer:\n$p")
  }

  test("q74 encode apply: vocab is broadcast; corpus side never shuffles for the join") {
    val p = plan(TextQueries.q74BpeEncode(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus shuffled for the vocab join:\n$p")
  }

  test("q72 regularity: the KDE grid rides a broadcast join, not a shuffle") {
    val p = plan(RankingQueries.q72SignalRegularity(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"grid not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"KDE degenerated to a cross join:\n$p")
  }

  test("q68 selection stages: one fact shuffle, cross-config math on broadcast one-row frames") {
    // (q70 embeds the q59 CSCV machinery whose static plan carries its own
    // equi-joins pre-AQE, so only the pure selection-layer query is pinned)
    val p = plan(RankingQueries.q68Topsis(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      s"cross-config stage shuffled a tiny frame:\n$p")
  }

  test("gen720 fold frame: ONE fact exchange — the 5-key fold windows and " +
    "the fold aggregation reuse the 4-key series partitioning (subset rule)") {
    // the only distributed stage the whole MCDM pack pays per corpus: the
    // lag/index windows partition on (bid, sym, fmt, thr), and both the
    // fold-scoped windows (… , fold) and the 5-key groupBy are satisfied
    // by that same hash partitioning (grouping keys ⊇ partitioning keys),
    // so fold assignment and fold aggregation add NO exchange
    // the RAW builder: the staged accessor (foldFrame) reads the parquet
    // McdmStaging wrote from exactly this plan
    val p = plan(graft.queries.McdmQueries.foldFrameRaw(spark, sf))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"fold frame should shuffle exactly once:\n$p")
  }

  test("q144 reconstruct: config grid and champion pick ride broadcasts — " +
    "the trade frame never shuffles for either join, no cartesian product") {
    val p = plan(ReconstructQueries.q144Reconstruct(spark, sf))
    // the 4-config grid fan-out and the 1-row champion join-back must
    // both broadcast; a plain CartesianProduct (unhinted cross of two
    // shuffled sides) would shuffle |signals|x4 rows at corpus scale
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"grid/champion not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"reconstruction degenerated to a cartesian product:\n$p")
  }

  test("q113 scaled-K assignment: map-only codegen'd kernel — no SortAggregate, " +
    "no join, no N×K row explosion in the plan") {
    val p = plan(SimilarityQueries.q113SemanticDedupScaled(spark, sf))
    assert(p.contains("centroid_argmin"),
      s"assignment must run the CentroidArgmin kernel:\n$p")
    // the rejected shapes, each measured fatal at scale: K literal
    // expressions (codegen death ~K=100), crossJoin+min(struct) (partial
    // agg plans as SortAggregate and SORTS the N×K exploded rows — disk
    // spill at 100×)
    assert(!p.contains("SortAggregate"),
      s"scaled-K assignment must not sort-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"assignment must not explode rows:\n$p")
  }

  test("q116 routed assignment: both kernel stages present, no SortAggregate, " +
    "no row explosion") {
    val p = plan(SimilarityQueries.q116SemanticDedupRouted(spark, sf))
    assert(p.contains("centroid_argmin") && p.contains("cell_argmin"),
      s"routing must run coarse CentroidArgmin then CellArgmin:\n$p")
    assert(!p.contains("SortAggregate"), s"no sort-aggregated argmin:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"assignment must not explode rows:\n$p")
  }

  test("q114 residual IVF-PQ: probes broadcast to the coded corpus, no corpus shuffle " +
    "for the candidate stage") {
    val p = plan(SimilarityQueries.q114AnnIvfPqResidual(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"probe×cell candidate stage must ride a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no quadratic fallback:\n$p")
  }

  test("q119 capped census: routed kernels + broadcast cell/rep joins, " +
    "no quadratic fallback") {
    val p = plan(SimilarityQueries.q119SemanticDedupCapped(spark, sf))
    assert(p.contains("cell_argmin"),
      s"q119 rides the routed assignment:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    // exactly ONE nested-loop join is allowed: the 1-row exact-scalars
    // crossJoin onto the census (row-count 1 × cells, not data × data)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1,
      s"cell filtering and rep verification must stay equi/broadcast joins ($bnlj BNLJ):\n$p")
    assert(!p.contains("SortAggregate"), s"no sort-aggregated argmin:\n$p")
  }

  test("q115 audio decode: map-only — no join, no aggregation, source parallelism") {
    val p = plan(MultimodalQueries.q115AudioDecode(spark, sf))
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      s"decode lane must stay a projection:\n$p")
    // only the deterministic output sort may exchange
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges <= 1, s"decode lane must not shuffle payloads:\n$p")
  }

  test("q126 sharded gate: one broadcast-hash branch per cid-range shard " +
    "under a union, assignment stays the codegen'd kernel") {
    val p = plan(SimilarityQueries.q126SemanticGateCensus(spark, sf))
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj == 4, s"expected 4 shard branches each broadcasting 1/S " +
      s"of the member index, got $bhj:\n$p")
    assert(p.contains("Union"), s"shard branches must union:\n$p")
    assert(p.contains("centroid_argmin"),
      s"assignment must run the CentroidArgmin kernel:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
      s"the corpus must never shuffle or cross-join for the gate:\n$p")
  }

  test("q127 routed gate: assignment is the coarse+routed kernel pair, " +
    "verify stays one broadcast-hash join, corpus never shuffles") {
    val p = plan(SimilarityQueries.q127SemanticGateRoutedCensus(spark, sf))
    assert(p.contains("cell_argmin"),
      s"in-cell assignment must run the column-borne routed kernel:\n$p")
    assert(p.contains("centroid_argmin("),
      s"coarse routing must run the flat kernel over the √K seeds:\n$p")
    // at fixture size the packed cells frame is under the broadcast
    // threshold: one cells broadcast + the one member broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      s"unsharded routed gate = the cells join plus one member broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
      s"the probe side must never shuffle or cross-join for the gate:\n$p")
  }

  test("routed gate head: the cells join follows Spark's size rule — " +
    "broadcast under autoBroadcastJoinThreshold, shuffled past it") {
    // the HEAD alone (no member-index lineage): coarse flat kernel, then
    // the in-cell kernel behind the one cells join; a broadcast would
    // re-materialize a K-row table on the driver, so past the threshold
    // the join must shuffle instead
    val idx = graft.queries.GateStaging.routedDir(spark, sf)
    def head(): String = plan(graft.streaming.StreamingOps.semanticGateAssignStaged(
      Tables.embeddings(spark, sf).select("vec_id", "embedding"),
      graft.queries.GateStaging.routedTables(spark, sf)))
    val small = head()
    assert(small.contains("centroid_argmin(") && small.contains("cell_argmin"),
      s"coarse kernel then in-cell kernel:\n$small")
    assert("BroadcastHashJoin".r.findAllIn(small).length == 1 && small.contains("BuildRight"),
      s"a cells frame under the threshold is broadcast:\n$small")
    val cellsBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(idx, "fine.parquet"))
      .filter(f => f.toString.endsWith(".parquet"))
      .mapToLong(f => java.nio.file.Files.size(f)).sum
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (cellsBytes / 4).toString)
    try {
      val large = head()
      assert(!large.contains("BroadcastHashJoin") && !large.contains("BroadcastNestedLoopJoin"),
        s"a cells frame past the threshold must not be broadcast:\n$large")
      assert(large.contains("SortMergeJoin") || large.contains("ShuffledHashJoin"),
        s"past the threshold the cells join shuffles:\n$large")
      assert(large.contains("cell_argmin"), s"in-cell kernel:\n$large")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ResultSink-written (symbol, threshold) tables prune partitions and " +
    "skip row groups on close_time_ms — the §1.6 MergeTree-key mapping") {
    // SURVEY §1.6 maps the reference's MergeTree key layout
    // (sql/gen200_triple_barrier.sql:48-49 — ORDER BY (symbol, threshold,
    // close_time_ms)) to directory partitioning + footer min/max skipping,
    // "free in Spark". This pin makes the promise checked: a key predicate
    // on a table the ENGINE wrote must (1) list exactly the matching
    // partition dirs, (2) push the time predicate into the parquet scan,
    // and (3) actually skip the non-matching row groups. At 100× this is
    // the difference between scanning one symbol and scanning the fleet.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_pin").toString
    try {
      val rows = for {
        s <- Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
        t <- Seq(25, 50)
        i <- 0 until 2000
      } yield (s, t, i.toLong * 60000L, i.toDouble)
      // 4 disjoint close_time_ms ranges -> 4 files per partition dir, each
      // carrying its own min/max footer stats (the MergeTree ORDER BY role)
      val df = rows.toDF("symbol", "threshold_decimal_bps", "close_time_ms", "feature")
        .repartitionByRange(4, col("close_time_ms"))
        .sortWithinPartitions("close_time_ms")
      graft.sources.ResultSink.append(df, dir, Seq("symbol", "threshold_decimal_bps"))
      val filtered = graft.sources.ResultSink.read(spark, dir)
        .filter(col("symbol") === "ETHUSDT" &&
          col("threshold_decimal_bps") === 50 &&
          col("close_time_ms") < 25L * 60000L)
      val executed = filtered.queryExecution.executedPlan
      val scan = executed.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in:\n" + executed))
      // (1) directory pruning: ONE of the 6 (symbol, threshold) partitions
      // is listed, with all 4 of its range files
      assert(scan.selectedPartitions.partitionCount == 1,
        s"partition pruning regressed: listed " +
          s"${scan.selectedPartitions.partitionCount} of 6 partitions")
      assert(scan.selectedPartitions.totalNumberOfFiles == 4)
      val pstr = executed.toString
      assert(pstr.contains("PartitionFilters") && pstr.contains("ETHUSDT"), pstr)
      // (2) the time predicate reaches the parquet footer stats
      assert(pstr.contains("PushedFilters") &&
        pstr.contains("LessThan(close_time_ms"), pstr)
      // (3) and the stats actually SKIP: of the partition's 2000 rows only
      // the first range file's row group may leave the scan
      // (repartitionByRange samples its boundaries, so that file holds
      // ~500±few-hundred rows — anything near 2000 means no skipping)
      assert(filtered.collect().length == 25)
      val scanRows = scan.metrics("numOutputRows").value
      assert(scanRows < 1000,
        s"row-group skipping regressed: scan emitted $scanRows of the " +
          s"partition's 2000 rows (expected only the one matching row group)")
    } finally queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("spreadIfNarrow: spreads a single-split scan to core count, no-op " +
    "(no Exchange) when the scan is already wide") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    try {
      (1L to 64L).toDF("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/one")
      (1L to 64L).toDF("doc_id").repartition(8)
        .write.mode("overwrite").parquet(s"$dir/many")
      // narrow: one file -> one split < defaultParallelism -> spread fires
      val narrow = Tables.spreadIfNarrow(spark.read.parquet(s"$dir/one"))
      assert(narrow.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism,
        "a single-split scan must be spread to core count")
      // wide: force one-split-per-file packing so the 8-file scan yields
      // >= cores splits -> the spread must be a NO-OP: same frame, no
      // repartition Exchange feeding the map-only kernel (the 100 TB
      // contract — an unconditional keyless repartition would re-shuffle
      // the whole corpus; r16 verdict "What's wrong" #3)
      val saved = Seq("spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes").map(k => k -> spark.conf.get(k))
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        val wide = Tables.spreadIfNarrow(spark.read.parquet(s"$dir/many"))
        assert(wide.rdd.getNumPartitions >=
          spark.sparkContext.defaultParallelism,
          "precondition: the scan itself must already be wide")
        assert(!wide.queryExecution.executedPlan.toString.contains("Exchange"),
          "an already-wide scan must not pay a repartition Exchange")
      } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    } finally queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
