package graft

import org.apache.spark.sql.functions._
import graft.queries.SimilarityQueries

/** Pins for the r9 semantic-lane scale work: the digest-keyed exact
  * collapse (r8 verdict "What's wrong" #1) and the staged routed
  * assignment q125 (r8 "What's missing" #1). */
class SemDedupStagedSpec extends GraftSuite {

  test("digest-keyed exact collapse picks the same representatives as the " +
    "array-keyed form") {
    // the q24 pattern applied to vectors: grouping min(vec_id) by
    // xxhash64(mud) must equal grouping by the raw array (no collisions
    // on this corpus; collision stance documented at the call site)
    val mud = Tables.embeddings(spark, sf)
      .withColumn("mud",
        expr("transform(embedding, x -> CAST(round(x * 1000000.0) AS BIGINT))"))
    val byArray = mud.groupBy(col("mud")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val byDigest = mud.groupBy(xxhash64(col("mud"))).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(byDigest == byArray)
    assert(byArray.nonEmpty)
  }

  test("q118 plan: cell_argmin kernel present, no quadratic fallback") {
    val p = SimilarityQueries.q118SemanticDedupStack(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("cell_argmin"),
      s"routed assignment must ride the column-borne CellArgmin kernel:\n$p")
    assert(p.contains("centroid_argmin"),
      s"coarse routing must stay the map-only kernel:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    // the 1-row exact-scalars crossJoin onto the census is the only
    // allowed nested-loop join (the q119 rule)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n$p")
    assert(!p.contains("SortAggregate"), s"no sort-aggregated argmin:\n$p")
  }

  test("stagedGateAssignApply == plain-Scala routed argmin over random " +
    "geometries (duplicate seeds -> orphan coarse cells, duplicate fine " +
    "centroids, exact-tie probes) — property fuzz of the composed pipeline") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815)
    val dim = 4
    def randVec(): Seq[Long] = Seq.fill(dim)((rnd.nextInt(400) - 200).toLong)
    for (trial <- 0 until 6) {
      val k1 = 2 + rnd.nextInt(3)
      val k = k1 + rnd.nextInt(k1 * k1)
      // fine table: first k1 entries double as the coarse seeds; force a
      // DUPLICATE seed sometimes (ties route to the smaller ccid, leaving
      // the larger one a candidate orphan) and duplicate fine centroids
      val fineCents: IndexedSeq[Seq[Long]] = {
        val b = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
        (0 until k).foreach { i =>
          b += (if (i > 0 && rnd.nextInt(3) == 0) b(rnd.nextInt(i)) else randVec())
        }
        b.toIndexedSeq
      }
      val coarseSeeds = fineCents.take(k1)
      val f2c = fineCents.map(SemDedupKernelFuzzSpec.bruteArgmin(_, coarseSeeds))
      val nonEmpty = f2c.distinct.sorted
      // the written index layout: (ccid, cmud) non-empty coarse rows and
      // (ccid, cid, cmud) fine rows
      val coarseDf = nonEmpty.map(cc => (cc, coarseSeeds(cc))).toDF("ccid", "cmud")
      val fineDf = fineCents.indices.map(c => (f2c(c), c, fineCents(c)))
        .toDF("ccid", "cid", "cmud")
      // probes: random + exact centroid copies (tie bait) + duplicates
      val probes: Seq[(Long, Seq[Long])] = (0 until 40).map { i =>
        val v =
          if (i % 5 == 0) fineCents(rnd.nextInt(k))
          else if (i % 7 == 0) coarseSeeds(rnd.nextInt(k1))
          else randVec()
        (i.toLong, v)
      }
      val probeDf = probes.map { case (id, v) => (id, v.map(_.toDouble)) }
        .toDF("vec_id", "mud")
      val staged = graft.queries.SimilarityQueries.stagedGateTables(coarseDf, fineDf)
      val viaStaged = graft.queries.SimilarityQueries
        .stagedGateAssignApply(staged, "cid")(probeDf)
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      staged.cells.unpersist()
      assert(viaStaged.keySet == probes.map(_._1).toSet,
        s"trial $trial: coverage differs (k1=$k1, k=$k)")
      probes.foreach { case (id, v) =>
        val want = SemDedupKernelFuzzSpec.routedArgmin(v, fineCents, coarseSeeds, f2c)
        assert(viaStaged(id) == want,
          s"trial $trial: probe $id staged=${viaStaged(id)} brute=$want " +
            s"(k1=$k1, k=$k, nonEmpty=$nonEmpty)")
      }
    }
  }

  test("semanticIndexAppend: arrivals admitted under FROZEN tables == the " +
    "one-shot build over base+arrivals with the same tables; base files " +
    "untouched; merged reader restores one-row-per-cid") {
    import org.apache.spark.sql.functions.{col => c}
    val sf001 = "/root/testdata/sf0.01"
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_append").toString
    val baseDir = java.nio.file.Files.createTempDirectory("graft_idx_base").toString
    try {
      // base index: vectors with vec_id % 5 != 0; arrivals: the rest
      val all = Tables.embeddings(spark, sf001)
      val base = all.filter(c("vec_id") % 5 =!= 0)
      val arrivals = all.filter(c("vec_id") % 5 === 0)
      // build + write the routed index from the BASE corpus only
      base.select(c("vec_id"), c("embedding")).write.parquet(s"$baseDir/embeddings.parquet")
      val (coarse, fine, members) = graft.queries.SimilarityQueries
        .semanticStreamIndexStaged(spark, baseDir)
      graft.queries.SimilarityQueries.writeGateIndexStaged(spark, dir, coarse, fine, members)
      val filesBefore = new java.io.File(s"$dir/members.parquet")
        .listFiles().map(_.getName).toSet
      val nBase = graft.queries.SimilarityQueries
        .readCellMembersMerged(spark, dir)
        .select(explode(c("members"))).count()
      // admit the arrivals under the frozen tables
      val nAppended = graft.queries.SimilarityQueries.semanticIndexAppend(
        spark, dir, arrivals.select(c("vec_id"), c("embedding")))
      assert(nAppended == arrivals.count())
      // base files untouched: append only ADDS files (probe-cost
      // independence — the accumulated corpus is never rewritten)
      val filesAfter = new java.io.File(s"$dir/members.parquet")
        .listFiles().map(_.getName).toSet
      assert(filesBefore.subsetOf(filesAfter) && filesAfter.size > filesBefore.size)
      // merged reader: one row per cid, total membership = base + arrivals
      val merged = graft.queries.SimilarityQueries.readCellMembersMerged(spark, dir)
      val cids = merged.select(c("cid")).collect().map(_.getInt(0))
      assert(cids.length == cids.distinct.length, "merged reader must emit one row per cid")
      assert(merged.select(explode(c("members"))).count() == nBase + nAppended)
      // the incremental contract: frozen-cell placement == what ONE
      // assignment pass over base+arrivals under the same tables yields
      def placement(m: org.apache.spark.sql.DataFrame): Map[Long, Int] =
        m.select(c("cid"), explode(c("members")).as("mm"))
          .select(c("mm.vec_id"), c("cid")).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val stagedTabs = graft.queries.SimilarityQueries.stagedGateTables(
        spark.read.parquet(s"$dir/coarse.parquet"),
        spark.read.parquet(s"$dir/fine.parquet"))
      try {
        val oneShot = graft.streaming.StreamingOps.semanticGateAssignStaged(
            all.select(c("vec_id"), c("embedding")), stagedTabs)
          .select(c("vec_id"), c("cid")).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        val incr = placement(merged)
        assert(incr.keySet == oneShot.keySet)
        oneShot.foreach { case (id, cid) =>
          assert(incr(id) == cid, s"vec $id: incremental=${incr(id)} one-shot=$cid")
        }
        // and the GATE over the appended index flags an arrival that
        // duplicates a base vector (the reason the index must grow):
        // re-probe the arrivals — every arrival now has itself in its cell,
        // so gate output stays row-per-probe under the merged reader
        val gated = graft.streaming.StreamingOps.streamingSemanticGateStaged(
          arrivals.select(c("vec_id"), c("embedding")), stagedTabs, merged)
        assert(gated.count() == nAppended, "gate must stay one row per probe")
        // raw readers must refuse the appended index (the _appended marker)
        assert(graft.queries.SimilarityQueries.hasAppendGenerations(dir))
      } finally stagedTabs.cells.unpersist()
    } finally {
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(baseDir))
    }
  }

  test("semanticIndexCompact: merges append generations back to the pristine " +
    "one-row-per-cid layout, drops the marker, preserves placement and gate " +
    "output, and is a byte-no-op on a pristine index") {
    import org.apache.spark.sql.functions.{col => c}
    val sf001 = "/root/testdata/sf0.01"
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_compact").toString
    val baseDir = java.nio.file.Files.createTempDirectory("graft_idx_cbase").toString
    try {
      val all = Tables.embeddings(spark, sf001)
      val base = all.filter(c("vec_id") % 5 =!= 0)
      base.select(c("vec_id"), c("embedding"))
        .write.parquet(s"$baseDir/embeddings.parquet")
      val (coarse, fine, members) = SimilarityQueries.semanticStreamIndexStaged(spark, baseDir)
      SimilarityQueries.writeGateIndexStaged(spark, dir, coarse, fine, members)
      def memberFiles(): Map[String, Long] =
        new java.io.File(s"$dir/members.parquet").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.length()).toMap
      // pristine index: compact must be a byte-no-op returning false
      val pristineFiles = memberFiles()
      assert(!SimilarityQueries.semanticIndexCompact(spark, dir))
      assert(memberFiles() == pristineFiles)
      // TWO append generations (so the merge is over >2 rows in some cid)
      val arr = all.filter(c("vec_id") % 5 === 0).select(c("vec_id"), c("embedding"))
      val n1 = SimilarityQueries.semanticIndexAppend(spark, dir,
        arr.filter(c("vec_id") % 2 === 0))
      val n2 = SimilarityQueries.semanticIndexAppend(spark, dir,
        arr.filter(c("vec_id") % 2 =!= 0))
      assert(n1 > 0 && n2 > 0)
      def placement(m: org.apache.spark.sql.DataFrame): Map[Long, Int] =
        m.select(c("cid"), explode(c("members")).as("mm"))
          .select(c("mm.vec_id"), c("cid")).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val mergedPre = SimilarityQueries.readCellMembersMerged(spark, dir)
      val placePre = placement(mergedPre)
      val stagedTabs = SimilarityQueries.stagedGateTables(
        spark.read.parquet(s"$dir/coarse.parquet"),
        spark.read.parquet(s"$dir/fine.parquet"))
      try {
        val probes = all.select(c("vec_id"), c("embedding"))
        def gateFlags(m: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
          graft.streaming.StreamingOps
            .streamingSemanticGateStaged(probes, stagedTabs, m)
            .select(c("vec_id"), c("semantic_near_dup")).collect()
            .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        val flagsPre = gateFlags(mergedPre)
        // compact: marker gone, raw layout one row per cid again
        assert(SimilarityQueries.semanticIndexCompact(spark, dir))
        assert(!SimilarityQueries.hasAppendGenerations(dir))
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "members.precompact.parquet")))
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "members.compacting.parquet")))
        val raw = spark.read.parquet(s"$dir/members.parquet")
        val cids = raw.select(c("cid")).collect().map(_.getInt(0))
        assert(cids.length == cids.distinct.length,
          "compacted members must hold ONE row per cid (raw-reader contract)")
        // placement and gate output identical through the RAW read path
        assert(placement(raw) == placePre)
        assert(gateFlags(raw) == flagsPre)
        // a second compact is a no-op that leaves the files byte-untouched
        val afterFiles = memberFiles()
        assert(!SimilarityQueries.semanticIndexCompact(spark, dir))
        assert(memberFiles() == afterFiles)
        // the lifecycle continues: append AFTER compact re-marks the index
        // and the merged reader sees the new generation
        val extra = arr.select((c("vec_id") + lit(2000000000L)).as("vec_id"),
          c("embedding"))
        val n3 = SimilarityQueries.semanticIndexAppend(spark, dir, extra)
        assert(n3 > 0 && SimilarityQueries.hasAppendGenerations(dir))
        val placePost = placement(SimilarityQueries.readCellMembersMerged(spark, dir))
        assert(placePost.size == placePre.size + n3)
      } finally stagedTabs.cells.unpersist()
    } finally {
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(baseDir))
    }
  }

  test("maintainIndex: the generation ledger counts delta commits and the " +
    "compact-when-due policy fires exactly at the threshold") {
    import org.apache.spark.sql.functions.{col => c}
    val sf001 = "/root/testdata/sf0.01"
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_maint").toString
    try {
      val vecs = Tables.embeddings(spark, sf001)
        .select(c("vec_id"), c("embedding"))
      val (coarse, fine, members) = SimilarityQueries.semanticStreamIndexStaged(spark, sf001)
      SimilarityQueries.writeGateIndexStaged(spark, dir, coarse, fine, members)
      assert(SimilarityQueries.appendGenerationCount(dir) == 0)
      // a pristine index is never compacted by the policy
      assert(!SimilarityQueries.maintainIndex(spark, dir, maxGens = 1))
      for (g <- 1 to 3) {
        assert(SimilarityQueries.semanticIndexAppend(spark, dir,
          vecs.filter(c("vec_id") % 7 === g)
            .select((c("vec_id") + lit(g * 1000000000L)).as("vec_id"),
              c("embedding"))) > 0)
        assert(SimilarityQueries.appendGenerationCount(dir) == g,
          s"ledger must count $g delta commits")
      }
      val nMerged = SimilarityQueries.readCellMembersMerged(spark, dir)
        .select(explode(c("members"))).count()
      // below threshold: no-op, ledger untouched
      assert(!SimilarityQueries.maintainIndex(spark, dir, maxGens = 5))
      assert(SimilarityQueries.appendGenerationCount(dir) == 3)
      // at threshold: compacts, ledger resets, membership preserved
      assert(SimilarityQueries.maintainIndex(spark, dir, maxGens = 3))
      assert(SimilarityQueries.appendGenerationCount(dir) == 0)
      assert(!SimilarityQueries.hasAppendGenerations(dir))
      val raw = spark.read.parquet(s"$dir/members.parquet")
      assert(raw.select(explode(c("members"))).count() == nMerged)
      // a LEGACY zero-byte marker (pre-ledger delta writer) still means
      // "appended at least once": the count floors at 1 so the policy
      // cannot under-count forever on an upgraded index
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_appended"))
      assert(SimilarityQueries.appendGenerationCount(dir) == 1)
      assert(SimilarityQueries.maintainIndex(spark, dir, maxGens = 1))
      assert(!SimilarityQueries.hasAppendGenerations(dir))
      assert(spark.read.parquet(s"$dir/members.parquet")
        .select(explode(c("members"))).count() == nMerged)
    } finally {
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("withIndexLock serializes same-JVM index mutators (cross-process " +
    "exclusion rides the same OS advisory lock)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_lock").toString
    try {
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val inLock = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() =>
        SimilarityQueries.withIndexLock(dir) {
          order.add("a-enter"); inLock.countDown()
          Thread.sleep(250)
          order.add("a-exit")
        })
      t.start()
      inLock.await()
      SimilarityQueries.withIndexLock(dir) { order.add("b-enter") }
      t.join()
      assert(order.toArray.toSeq == Seq("a-enter", "a-exit", "b-enter"),
        s"second mutator must wait for the first: ${order.toArray.toSeq}")
    } finally {
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("healInterruptedCompact: every crash window restores a servable " +
    "index without ever unmarking fresh deltas") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col => c}
    val sf001 = "/root/testdata/sf0.01"
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_heal").toString
    try {
      val vecs = Tables.embeddings(spark, sf001)
        .select(c("vec_id"), c("embedding"))
      val (coarse, fine, members) = SimilarityQueries.semanticStreamIndexStaged(spark, sf001)
      SimilarityQueries.writeGateIndexStaged(spark, dir, coarse, fine, members)
      assert(SimilarityQueries.semanticIndexAppend(spark, dir,
        vecs.filter(c("vec_id") % 7 === 0)
          .select((c("vec_id") + lit(1000000000L)).as("vec_id"), c("embedding"))) > 0)
      val live = Paths.get(dir, "members.parquet")
      val tmp = Paths.get(dir, "members.compacting.parquet")
      val pre = Paths.get(dir, "members.precompact.parquet")
      val placePre = SimilarityQueries.readCellMembersMerged(spark, dir)
        .select(c("cid"), explode(c("members")).as("mm"))
        .select(c("mm.vec_id"), c("cid")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // window 1: crash between the two renames (live missing, pre + a
      // half-written tmp present) → heal restores the live dir, drops tmp
      Files.move(live, pre, StandardCopyOption.ATOMIC_MOVE)
      Files.createDirectory(tmp)
      Files.createFile(tmp.resolve("part-half.parquet"))
      SimilarityQueries.healInterruptedCompact(dir)
      assert(Files.exists(live) && !Files.exists(pre) && !Files.exists(tmp))
      assert(SimilarityQueries.hasAppendGenerations(dir))
      // the restored index re-compacts cleanly
      assert(SimilarityQueries.semanticIndexCompact(spark, dir))
      // window 2: crash after the swap but before marker removal, then a
      // NEW append re-marks the index — heal must drop the stray pre dir
      // but NEVER the marker (the fresh delta would be silently unmarked)
      Files.createDirectory(pre)
      Files.createFile(pre.resolve("part-stale.parquet"))
      assert(SimilarityQueries.semanticIndexAppend(spark, dir,
        vecs.filter(c("vec_id") % 11 === 0)
          .select((c("vec_id") + lit(3000000000L)).as("vec_id"), c("embedding"))) > 0)
      SimilarityQueries.healInterruptedCompact(dir)
      assert(!Files.exists(pre))
      assert(SimilarityQueries.hasAppendGenerations(dir),
        "heal must not unmark an index carrying fresh deltas")
      // and the final compact converges the whole history to pristine
      assert(SimilarityQueries.semanticIndexCompact(spark, dir))
      val raw = spark.read.parquet(s"$dir/members.parquet")
      val cids = raw.select(c("cid")).collect().map(_.getInt(0))
      assert(cids.length == cids.distinct.length)
      val placePost = raw
        .select(c("cid"), explode(c("members")).as("mm"))
        .select(c("mm.vec_id"), c("cid")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      placePre.foreach { case (id, cid) => assert(placePost(id) == cid) }
      // window 3: append ARRIVES at a window-1 crash state — without the
      // entry heal, SaveMode.Append would CREATE a fresh live dir holding
      // only the delta (and a later heal would then delete the pre dir
      // carrying the whole base index); the entry heal restores first
      val nBase = raw.select(explode(c("members"))).count()
      Files.move(live, pre, StandardCopyOption.ATOMIC_MOVE)
      val nW3 = SimilarityQueries.semanticIndexAppend(spark, dir,
        vecs.filter(c("vec_id") % 13 === 0)
          .select((c("vec_id") + lit(5000000000L)).as("vec_id"), c("embedding")))
      assert(nW3 > 0 && !Files.exists(pre))
      assert(SimilarityQueries.readCellMembersMerged(spark, dir)
        .select(explode(c("members"))).count() == nBase + nW3,
        "the base index must survive an append landing on a window-1 crash")
    } finally {
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("q130 lifecycle census is chunking-invariant: two vec_id-monotone " +
    "admit batches with a compaction BETWEEN them equal the one-shot run") {
    // the q130 oracle row checks one admit batch end-to-end; this pin adds
    // the multi-generation path the oracle can't see — a compact in the
    // MIDDLE of the arrival stream (merged read of gen-0+delta, swap,
    // marker removal) followed by a second admit against the compacted
    // index must land on the same census as the single-batch run
    val sf001 = "/root/testdata/sf0.01"
    val oneShot = SimilarityQueries
      .q130SemanticIndexAppendCensus(spark, sf001).collect().toSeq
    assert(oneShot.nonEmpty)
    // chunked replay of the same lifecycle: split arrivals at the median
    // vec_id (monotone ACROSS chunks — the admit loop's chunking-
    // invariance contract is vec_id-monotone streams)
    val idx = graft.queries.GateStaging.appendWorkdir(spark, sf001)
    val staged = SimilarityQueries.stagedGateTables(
      spark.read.parquet(s"$idx/coarse.parquet"),
      spark.read.parquet(s"$idx/fine.parquet"))
    val arrivals = Tables.embeddings(spark, sf001)
      .filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
    val mid = arrivals.agg(expr("percentile_approx(vec_id, 0.5)"))
      .collect()(0).getLong(0)
    val flags1 = graft.streaming.StreamingOps.semanticAdmitBatch(
      idx, staged, arrivals.filter(col("vec_id") < mid),
      minCos = SimilarityQueries.AppendMinCos).collect()
    assert(SimilarityQueries.semanticIndexCompact(spark, idx),
      "first chunk admitted nothing — mid-lifecycle compact not exercised")
    val flags2 = graft.streaming.StreamingOps.semanticAdmitBatch(
      idx, staged, arrivals.filter(col("vec_id") >= mid),
      minCos = SimilarityQueries.AppendMinCos).collect()
    staged.cells.unpersist()
    SimilarityQueries.semanticIndexCompact(spark, idx)
    val rejected = (flags1 ++ flags2).filter(_.getBoolean(2))
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val members = spark.read.parquet(s"$idx/members.parquet")
      .select(col("cid"), explode(col("members")).as("m"))
      .select(col("m.vec_id").as("vec_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // same shape as the q130 census: (vec_id, cid, generation, admitted)
    val chunked = (members.map { case (vid, cid) =>
      (vid, cid, if (vid % 4 == 0) 1 else 0, 1)
    } ++ rejected.toSeq.map { case (vid, cid) => (vid, cid, 1, 0) }).toSet
    val oneShotSet = oneShot
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(chunked == oneShotSet,
      s"chunked lifecycle drifted: ${(chunked diff oneShotSet).take(3)} / " +
        s"${(oneShotSet diff chunked).take(3)}")
    assert(rejected.nonEmpty, "no rejects — the greedy path was not exercised")
  }

  test("semanticAdmitBatch refuses a batch over maxBatchRows with a named " +
    "error BEFORE the driver collect (and before any index mutation)") {
    val sf001 = "/root/testdata/sf0.01"
    val idx = graft.queries.GateStaging.appendWorkdir(spark, sf001)
    val staged = SimilarityQueries.stagedGateTables(
      spark.read.parquet(s"$idx/coarse.parquet"),
      spark.read.parquet(s"$idx/fine.parquet"))
    val arrivals = Tables.embeddings(spark, sf001)
      .filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
    val before = spark.read.parquet(s"$idx/members.parquet").count()
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.semanticAdmitBatch(
        idx, staged, arrivals, minCos = SimilarityQueries.AppendMinCos,
        maxBatchRows = 10L)
    }
    assert(e.getMessage.contains("maxBatchRows"), e.getMessage)
    // the refusal must leave the index untouched: no delta, no marker
    assert(spark.read.parquet(s"$idx/members.parquet").count() == before)
    assert(!SimilarityQueries.hasAppendGenerations(idx))
    staged.cells.unpersist()
  }

  test("admit-loop fuzz: random corpora with planted near-dup clusters — " +
    "engine flags == plain-Scala greedy at minCos 0.3 and 0.6") {
    // the fixture corpora have a 0.51 pairwise-cos ceiling and near-dups
    // only by exact copy; this fuzz explores geometry the fixtures can't —
    // planted clusters (anchor + noisy copies at cos ≈ 0.98), random
    // cross-pairs near the threshold, greedy CHAINS (a copy admitted
    // because its anchor was itself rejected earlier)
    import spark.implicits._
    val rnd = new scala.util.Random(987654L)
    def cos6(e: Seq[Float], e2: Seq[Float]): Double = {
      def nrm(v: Seq[Float]) =
        math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      val (n, n2) = (nrm(e), nrm(e2))
      if (n * n2 == 0.0) return -2.0
      val dot = e.indices.foldLeft(0.0)((a, i) => a + e(i).toDouble * e2(i).toDouble)
      new java.math.BigDecimal(dot / (n * n2))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    (0 until 2).foreach { trial =>
      // 24 anchors, each with 2-5 noisy copies + random fill = ~320 vectors
      val vecs = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
      var id = 0L
      def rndVec(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
      (0 until 24).foreach { _ =>
        val anchor = rndVec()
        vecs += ((id, anchor.toSeq)); id += 1
        (0 until 2 + rnd.nextInt(4)).foreach { _ =>
          val copy = anchor.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
          vecs += ((id, copy.toSeq)); id += 1
        }
      }
      while (vecs.length < 320) { vecs += ((id, rndVec().toSeq)); id += 1 }
      // shuffle ids so clusters straddle the base/arrival split
      val shuffled = rnd.shuffle(vecs.toSeq).zipWithIndex
        .map { case ((_, e), i) => (i.toLong, e) }
      val base = shuffled.filter(_._1 % 3 != 0)
      val arrivals = shuffled.filter(_._1 % 3 == 0).sortBy(_._1)

      val pristine = java.nio.file.Files.createTempDirectory("graft_fuzz_idx")
      val (coarse, fineRouted, members) = SimilarityQueries
        .semanticStreamIndexStagedFrom(
          base.toDF("vec_id", "embedding"))
      SimilarityQueries.writeGateIndexStaged(
        spark, pristine.toString, coarse, fineRouted, members)
      try Seq(0.3, 0.6).foreach { minCos =>
        val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_work")
        graft.queries.StagingRoots.copyRecursively(pristine, dir)
        val tabs = SimilarityQueries.stagedGateTables(
          spark.read.parquet(s"$dir/coarse.parquet"),
          spark.read.parquet(s"$dir/fine.parquet"))
        try {
          val flags = graft.streaming.StreamingOps.semanticAdmitBatch(
              dir.toString, tabs, arrivals.toDF("vec_id", "embedding"),
              minCos = minCos)
            .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
          // model: ENGINE cell assignment (the kernels are pinned
          // elsewhere) + an independent per-cell vec_id greedy
          val cidOf = graft.streaming.StreamingOps.semanticGateAssignStaged(
              arrivals.toDF("vec_id", "embedding"), tabs)
            .select(col("vec_id"), col("cid")).collect()
            .map(r => r.getLong(0) -> r.getInt(1)).toMap
          val baseCells = SimilarityQueries
            .readCellMembersMerged(spark, pristine.toString)
            .select(col("cid"), explode(col("members")).as("m"))
            .select(col("cid"), col("m.vec_id"), col("m.e")).collect()
            .groupBy(_.getInt(0))
            .view.mapValues(_.map(r =>
              (r.getLong(1), r.getSeq[Float](2))).toBuffer).toMap
          val want = scala.collection.mutable.Map[Long, Boolean]()
          arrivals.groupBy(a => cidOf(a._1)).foreach { case (cid, cell) =>
            val admitted = baseCells.getOrElse(cid,
              scala.collection.mutable.ArrayBuffer.empty).map(_._2)
              .to(scala.collection.mutable.ArrayBuffer)
            cell.sortBy(_._1).foreach { case (aid, e) =>
              val dup = admitted.exists(b => cos6(e, b) >= minCos)
              if (!dup) admitted += e
              want(aid) = dup
            }
          }
          assert(flags.keySet == want.keySet)
          want.foreach { case (aid, f) =>
            assert(flags(aid) == f,
              s"trial $trial minCos=$minCos vec $aid: engine=${flags(aid)} model=$f")
          }
          // non-vacuous: the planted clusters must produce both outcomes
          assert(want.values.exists(identity) && want.values.exists(!_),
            s"trial $trial minCos=$minCos: all-one-outcome fuzz is vacuous")
        } finally {
          tabs.cells.unpersist()
          graft.queries.StagingRoots.deleteRecursively(dir)
        }
      } finally graft.queries.StagingRoots.deleteRecursively(pristine)
    }
  }

  test("rebuildDue fires on cell-balance shift and stays quiet on a " +
    "balanced index (the T68 rebuild trigger, implemented)") {
    val sf001 = "/root/testdata/sf0.01"
    import spark.implicits._
    val idx = graft.queries.GateStaging.appendWorkdir(spark, sf001)
    // fresh build over the base slice: balanced by construction
    assert(!SimilarityQueries.rebuildDue(spark, idx),
      "a just-built index must not demand a rebuild")
    val (mx0, med0) = SimilarityQueries.indexCellBalance(spark, idx)
    assert(mx0 >= 1 && med0 >= 1.0)
    // balloon ONE cell: append many noisy copies of one member vector —
    // frozen tables route them all to the anchor's cell (no dedup in the
    // raw append path, by contract)
    val anchor = Tables.embeddings(spark, sf001)
      .filter(col("vec_id") === 1).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val rnd = new scala.util.Random(42L)
    // 24× the median: well past the recalibrated default ratio of 16
    // (the r15 rung measured a natural max/median tail of ~8.9 on a
    // healthy 2M-vector index, so the trigger's default cleared it)
    val blob = (0 until (med0 * 24).toInt).map { i =>
      (5000000L + i,
        anchor.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f))
    }
    SimilarityQueries.semanticIndexAppend(spark, idx,
      blob.toDF("vec_id", "embedding"))
    assert(SimilarityQueries.rebuildDue(spark, idx),
      "a 24x-median mega-cell must trip the rebuild trigger")
    // the trigger counts merged generations as one cell (the noisy
    // copies may straddle one cell boundary, so require only that the
    // bulk of the blob shows up in the worst cell)
    val (mx1, _) = SimilarityQueries.indexCellBalance(spark, idx)
    assert(mx1 >= mx0 && mx1 >= (blob.length * 8) / 10,
      s"merged balance missed the appended blob: $mx0 -> $mx1 (blob ${blob.length})")
  }

  test("maintainIndexWithRebuild rebuilds a blobbed index and restores " +
    "balance (T68 trigger → action → recovery, the repeatable form of the " +
    "SemScale rebuildcycle rung)") {
    val sf001 = "/root/testdata/sf0.01"
    import spark.implicits._
    val idx = graft.queries.GateStaging.appendWorkdir(spark, sf001)
    val baseIds = spark.read.parquet(s"$idx/members.parquet")
      .select(explode(col("members")).as("m")).select(col("m.vec_id"))
      .collect().map(_.getLong(0)).toSet
    val (_, med0) = SimilarityQueries.indexCellBalance(spark, idx)
    // a quiet index: the policy must compact nothing and rebuild nothing
    val (c0, r0) = SimilarityQueries.maintainIndexWithRebuild(spark, idx)
    assert(!c0 && !r0, "policy acted on a pristine balanced index")
    // blob: near-identical-but-DISTINCT off-manifold arrivals — frozen
    // routing funnels all of them into one cell (the rebuildcycle rung's
    // generator at spec scale)
    val blobN = math.max(400, (med0 * 24).toInt)
    val blob = spark.range(blobN)
      .select((col("id") + 2000000000L).as("vec_id"))
      .select(col("vec_id"), expr(
        "transform(sequence(0, 63), " +
          "i -> CAST(0.25 + 0.0001 * sin(vec_id * 13.7D + i) AS FLOAT))")
        .as("embedding"))
    SimilarityQueries.semanticIndexAppend(spark, idx, blob)
    assert(SimilarityQueries.rebuildDue(spark, idx),
      "the blob must trip the trigger before the policy runs")
    val (compacted, rebuilt) =
      SimilarityQueries.maintainIndexWithRebuild(spark, idx, maxGens = 1)
    assert(compacted && rebuilt, s"policy ran ($compacted, $rebuilt)")
    // recovery: trigger quiet, pristine layout (no marker, one row/cid),
    // and NO member lost or duplicated by the re-cluster
    assert(!SimilarityQueries.rebuildDue(spark, idx),
      "rebuild did not restore cell balance")
    assert(!SimilarityQueries.hasAppendGenerations(idx))
    val rows = spark.read.parquet(s"$idx/members.parquet")
    assert(rows.groupBy(col("cid")).count()
      .agg(max(col("count"))).head().getLong(0) == 1L)
    val ids = rows.select(explode(col("members")).as("m"))
      .select(col("m.vec_id")).collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "rebuild duplicated members")
    assert(ids.toSet == baseIds ++ (0 until blobN).map(_ + 2000000000L),
      "rebuild lost or invented members")
    // a crash-window heal is a no-op on the healthy result
    SimilarityQueries.healInterruptedRebuild(idx)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
  }

  test("healInterruptedRebuild finishes or rolls back BOTH rebuild crash " +
    "windows (the T70 compact-heal discipline, one level up)") {
    val sf001 = "/root/testdata/sf0.01"
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val idx = graft.queries.GateStaging.appendWorkdir(spark, sf001)
    def census(): Long =
      spark.read.parquet(s"$idx/members.parquet")
        .select(explode(col("members"))).count()
    val before = census()
    // window 1: crashed BETWEEN the two renames — live dir missing, the
    // pre-rebuild backup holds the whole index; heal must roll back
    val pre = Paths.get(idx + ".prerebuild")
    Files.move(Paths.get(idx), pre, StandardCopyOption.ATOMIC_MOVE)
    SimilarityQueries.healInterruptedRebuild(idx)
    assert(Files.exists(Paths.get(idx)) && !Files.exists(pre),
      "window-1 heal must restore the live dir from the backup")
    assert(census() == before, "window-1 heal lost members")
    // window 2: crashed AFTER the swap — live dir is already the rebuilt
    // index, the backup lingers; heal must drop ONLY the backup
    Files.createDirectories(pre)
    Files.write(pre.resolve("stale"), Array[Byte](1))
    // plus tmp debris from a crashed build attempt
    val tmp = Paths.get(idx + ".rebuilt")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("half"), Array[Byte](2))
    SimilarityQueries.healInterruptedRebuild(idx)
    assert(Files.exists(Paths.get(idx)) && !Files.exists(pre) && !Files.exists(tmp),
      "window-2 heal must drop the backup and tmp debris, keep the live dir")
    assert(census() == before, "window-2 heal touched the live index")
    // and a rebuild through the policy still works after both heals
    val k = SimilarityQueries.semanticIndexRebuild(spark, idx)
    assert(k >= 1 && census() == before,
      "post-heal rebuild must preserve every member")
  }

  test("index lock blocks a REAL second JVM while held and is released by " +
    "the OS when the holder is SIGKILLed (the cross-process half the " +
    "same-JVM latch tests cannot see)") {
    // the repeatable form of the SCALE.md r14 rehearsal: spawn
    // IndexLockHolder in a child JVM (no Spark session — it is pure
    // java.nio), then contend from THIS JVM's withIndexLock
    val idxDir = java.nio.file.Files.createTempDirectory("graft_lock_spec")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val holder = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.IndexLockHolder", idxDir.toString, "60000")
      .redirectErrorStream(true).start()
    try {
      // wait for the child to actually HOLD the lock
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(holder.getInputStream))
      val deadline = System.nanoTime() + 30L * 1000000000L
      var line = br.readLine()
      while (line != null && line != "HELD" && System.nanoTime() < deadline)
        line = br.readLine()
      assert(line == "HELD", s"holder never reported HELD (last: $line)")
      // acquiring from this JVM must BLOCK while the other process lives
      val acquired = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => {
        SimilarityQueries.withIndexLock(idxDir.toString) {}
        acquired.countDown()
      })
      t.setDaemon(true)
      t.start()
      assert(!acquired.await(2, java.util.concurrent.TimeUnit.SECONDS),
        "a second process acquired the lock WHILE another held it — the " +
          "OS advisory lock is not excluding writers across processes")
      // SIGKILL the holder mid-hold: the OS must release its lock (no
      // stale-lock state), so the blocked acquire completes promptly
      holder.destroyForcibly()
      assert(acquired.await(15, java.util.concurrent.TimeUnit.SECONDS),
        "lock not released after the holding process was SIGKILLed")
    } finally {
      holder.destroyForcibly()
      graft.queries.StagingRoots.deleteRecursively(idxDir)
    }
  }

  test("a writer blocked ACROSS a rebuild-style directory swap re-acquires " +
    "on the fresh lock file instead of keeping the orphaned inode (real " +
    "second JVM holds; the swap happens while blocked)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val idxDir = Files.createTempDirectory("graft_swap_lock_spec")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val holder = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.IndexLockHolder", idxDir.toString, "60000")
      .redirectErrorStream(true).start()
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(holder.getInputStream))
      val deadline = System.nanoTime() + 30L * 1000000000L
      var line = br.readLine()
      while (line != null && line != "HELD" && System.nanoTime() < deadline)
        line = br.readLine()
      assert(line == "HELD", s"holder never reported HELD (last: $line)")
      val r0 = SimilarityQueries.staleLockRetries.get
      val acquired = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => {
        SimilarityQueries.withIndexLock(idxDir.toString) {}
        acquired.countDown()
      })
      t.setDaemon(true)
      t.start()
      // 2 s unacquired proves the thread is past the monitor and blocked
      // in ch.lock() on the CURRENT (pre-swap) inode
      assert(!acquired.await(2, java.util.concurrent.TimeUnit.SECONDS),
        "writer was not blocked by the cross-process holder")
      // the rebuild-style swap, performed while holder and waiter both
      // reference the old inode: dir renamed aside, fresh dir + fresh
      // lock file at the same path, backup deleted (like the rebuild's
      // backup delete — inodes survive via the open handles)
      val old = Paths.get(idxDir.toString + ".prerebuild")
      Files.move(idxDir, old, StandardCopyOption.ATOMIC_MOVE)
      Files.createDirectories(idxDir)
      Files.write(idxDir.resolve("_lock"), Array[Byte]())
      graft.queries.StagingRoots.deleteRecursively(old)
      assert(!acquired.await(1, java.util.concurrent.TimeUnit.SECONDS),
        "writer acquired while the holder still held the (orphaned) lock")
      // holder dies -> waiter acquires the ORPHAN, must detect and retry
      // on the fresh file, then complete
      holder.destroyForcibly()
      assert(acquired.await(15, java.util.concurrent.TimeUnit.SECONDS),
        "writer never completed after the swap — stale-inode retry broken")
      assert(SimilarityQueries.staleLockRetries.get > r0,
        "writer completed WITHOUT a stale-lock retry — it ran its body " +
          "under the orphaned inode")
    } finally {
      holder.destroyForcibly()
      graft.queries.StagingRoots.deleteRecursively(idxDir)
    }
  }

  test("geometry guard: an admit whose routing tables predate a rebuild is " +
    "refused (StaleRoutingTablesException), and reload + replay succeeds") {
    val sf001 = "/root/testdata/sf0.01"
    import spark.implicits._
    val idx = graft.queries.GateStaging.appendWorkdir(spark, sf001)
    val g0 = SimilarityQueries.indexGeometryVersion(idx)
    val staged0 = SimilarityQueries.stagedGateTablesAt(spark, idx)
    assert(staged0.geom == g0, "loader did not capture the geometry version")
    // take the lock once so the lock file exists, then record its inode:
    // a completed rebuild must carry the SAME file into the rebuilt dir
    // (writers blocked on it stay validly blocked across the swap)
    SimilarityQueries.withIndexLock(idx) {}
    def lockKey(): AnyRef = java.nio.file.Files.readAttributes(
      java.nio.file.Paths.get(idx, "_lock"),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    val k0 = lockKey()
    // force a rebuild: the policy test's blob adversary at spec scale
    val (_, med0) = SimilarityQueries.indexCellBalance(spark, idx)
    val blobN = math.max(400, (med0 * 24).toInt)
    val blob = spark.range(blobN)
      .select((col("id") + 2000000000L).as("vec_id"))
      .select(col("vec_id"), expr(
        "transform(sequence(0, 63), " +
          "i -> CAST(0.25 + 0.0001 * sin(vec_id * 13.7D + i) AS FLOAT))")
        .as("embedding"))
    SimilarityQueries.semanticIndexAppend(spark, idx, blob)
    SimilarityQueries.semanticIndexRebuild(spark, idx)
    assert(SimilarityQueries.indexGeometryVersion(idx) == g0 + 1,
      "rebuild did not bump the geometry version")
    assert(lockKey() == k0,
      "rebuild replaced the lock-file inode — writers blocked across the " +
        "swap would hold an orphan with no exclusion")
    val batch = Tables.embeddings(spark, sf001).limit(5)
      .select((col("vec_id") + 5000000000L).as("vec_id"), col("embedding"))
    intercept[SimilarityQueries.StaleRoutingTablesException] {
      graft.streaming.StreamingOps.semanticAdmitBatch(idx, staged0, batch)
    }
    // the refused attempt committed NOTHING: the rebuilt index is still
    // pristine (no _appended marker)
    assert(!SimilarityQueries.hasAppendGenerations(idx),
      "the refused admit left a delta or marker behind")
    val staged1 = SimilarityQueries.stagedGateTablesAt(spark, idx)
    val flags = graft.streaming.StreamingOps
      .semanticAdmitBatch(idx, staged1, batch)
    assert(flags.count() == 5, "replay after reload did not admit the batch")
    staged0.cells.unpersist()
    staged1.cells.unpersist()
  }

  test("a failed index write or append throws and leaves no cached plan") {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val good = java.nio.file.Files.createTempDirectory("graft_idx_fail").toString
    val other = java.nio.file.Files.createTempDirectory("graft_idx_fail2").toString
    val file = java.nio.file.Files.createTempFile("graft_idx", ".file")
    try {
      val (coarse, fine, members) = SimilarityQueries.semanticStreamIndexStaged(spark, sf)
      SimilarityQueries.writeGateIndexStaged(spark, good, coarse, fine, members)
      // the build's own frames were persisted outside any scope
      spark.catalog.clearCache()
      intercept[Exception] {
        SimilarityQueries.writeGateIndexStaged(spark, s"$file/idx", coarse, fine, members)
      }
      assert(cm.isEmpty, "a write under a regular file left a cached plan")
      // the fine table fails on its first read, after the writer persisted it
      val badFine = fine.withColumn("ccid",
        expr("if(ccid >= 0, raise_error('bad fine table'), ccid)"))
      intercept[Exception] {
        SimilarityQueries.writeGateIndexStaged(spark, other, coarse, badFine, members)
      }
      assert(cm.isEmpty, "a failed fine-table write left a cached plan")
      val badVecs = Tables.embeddings(spark, sf).select(col("vec_id"),
        expr("if(vec_id >= 0, raise_error('bad arrival'), embedding)").as("embedding"))
      intercept[Exception](SimilarityQueries.semanticIndexAppend(spark, good, badVecs))
      assert(cm.isEmpty, "a failed append left a cached plan")
    } finally {
      Seq(good, other).foreach(d =>
        queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(d)))
      java.nio.file.Files.deleteIfExists(file)
    }
  }
}
