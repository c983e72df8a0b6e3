package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic-dedup-lane scaling rehearsal (dev tool, the EvalScale/
  * GraphScale pattern): measures the routed-assignment stack (q118) and
  * the exact-first lane (q117) at the regime they were built for —
  * K ≥ 10⁵ centroids and 2M-vector corpora — recording wall clock AND
  * peak JVM heap, because the routed head's design claim is that driver
  * state stays O(√K) (only the coarse table is collected) while the flat
  * lanes (q113/q117) carry O(K) centroid collects. In local mode the
  * driver and executors share one heap, so "peak heap" here upper-bounds
  * the driver requirement (the r8 array-keyed lane needed
  * SPARK_DRIVER_MEM=32g at 1000×; the digest-keyed collapse + routed head
  * are supposed to fit the 8g dev default — this runner is what proves or
  * refutes that).
  *
  * Modes (one JVM per measurement so heap peaks don't bleed across runs):
  *   staged <dir> [targetCell]  — the q118 stack via stagedStackRehearsal
  *                                (targetCell=16 on a 2M-vector corpus →
  *                                K = 125,000); wall + peak heap + census
  *                                shape (cells, worst cell, pairs).
  *   census <dir> [targetCell]  — coarseCellCensus: the fine-centroids-
  *                                per-coarse-cell distribution that decides
  *                                routed task balance (a coarse cell with m
  *                                fine centroids costs every vector routed
  *                                there O(m) kernel work).
  *   blobfix <src> <dst> [pct]  — write an adversarial seed-geometry
  *                                variant of <src>'s embeddings: pct% of
  *                                vectors become ONE near-identical blob
  *                                (distinct vectors — exact-first cannot
  *                                collapse them) carried by the vec_ids
  *                                with the LARGEST md5 ranks, which are
  *                                provably never seeds (the
  *                                SemDedupScaledSpec seedless-blob
  *                                technique at fixture scale). The blob
  *                                draws zero seeds, so all its members
  *                                route to one fine cell: the mega-cell /
  *                                hot-route event the capped census and
  *                                the staged join's skew story must absorb.
  *   gateindex <src> <dst> [targetCell]
  *                              — build + WRITE the gate's static index
  *                                (centroids + per-cell member arrays) via
  *                                the batch q113 flat lane (whose 2M-vector
  *                                memory appetite is the build's, not the
  *                                gate's — run this row at whatever heap
  *                                the flat lane needs and report it).
  *   gateindexrs <src> <dst> [targetCell]
  *                              — ROUTED twin of gateindex (q116 routing
  *                                tables + members by routed cid), built
  *                                with no O(K) driver state: O(√K)
  *                                assignment kernel instead of O(K), and
  *                                the 8 g default suffices at K where a
  *                                driver-resident build needed 32 g.
  *   gate <src> <idx> [S] [mod] [union|seq|seqa]
  *                              — the streaming semantic gate (batch twin,
  *                                stream ≡ batch pinned by StreamingSpec)
  *                                reading the written index in a fresh JVM:
  *                                gates a 1-in-<mod> probe batch at S
  *                                cid-range shards (1 = unsharded). The
  *                                2M-vector index is ~544 MB raw — the
  *                                single-broadcast bound the r11 sharding
  *                                answers; each shard scans only its cid
  *                                range of the index parquet. A routed
  *                                index runs the staged assignment head
  *                                (O(√K) collected coarse table, the fine
  *                                table a joined frame).
  *   append <src> <idx> [mod]   — incremental index maintenance
  *                                (semanticIndexAppend): admit a 1-in-<mod>
  *                                arrival batch (vec_ids shifted so they
  *                                are NEW) into a written ROUTED index
  *                                under frozen tables — measures the claim
  *                                that admission cost is |batch| assignment
  *                                + one delta write, independent of the
  *                                index's accumulated size. MUTATES <idx>
  *                                (adds member delta files): run it on a
  *                                copy; an appended index must be read via
  *                                the merging reader, while `gate` mode
  *                                reads members raw (pristine builds).
  *   admitloop <src> <idx> [nBatches] [mod] [maxGens]
  *                              — the ONLINE admit loop at design regime:
  *                                semanticAdmitBatch over nBatches
  *                                sequential arrival chunks with
  *                                maintainIndex (compact-when-due) in the
  *                                batch body — the production foreachBatch
  *                                shape. Reports per-batch admit walls and
  *                                compaction counts. MUTATES <idx>.
  *   compact <idx>              — index compaction (semanticIndexCompact):
  *                                merge all append generations back into
  *                                the pristine one-row-per-cid range
  *                                layout and drop the _appended marker,
  *                                restoring the scan-only raw-reader
  *                                contract `gate` mode requires. Reports
  *                                file/row/generation counts before and
  *                                after. MUTATES <idx>.
  *   dedup <dir>                — q117 then q118 timed with peak heap (the
  *                                1000×+dupvec re-run after the digest-keyed
  *                                exact collapse; r8 measured 180.6/85.2 s
  *                                but needed 32g — has the requirement
  *                                dropped to the 8g default?).
  *
  * Prints one JSON line per measurement; SCALE.md records the numbers.
  */
object SemScale {

  /** Peak-heap via a 100 ms sampler of the SIMULTANEOUS heap used
    * (MemoryMXBean). Summing per-pool peak marks overcounts — G1 pool
    * peaks happen at different instants and their sum can exceed Xmx —
    * so the sampled concurrent max is the honest number; completion
    * inside Xmx is the binding proof either way. */
  @volatile private var peakHeap: Long = 0L
  private def startHeapSampler(): Unit = {
    peakHeap = 0L
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    val t = new Thread(() => {
      while (true) {
        val used = bean.getHeapMemoryUsage.getUsed
        if (used > peakHeap) peakHeap = used
        Thread.sleep(100)
      }
    })
    t.setDaemon(true)
    t.start()
  }
  private def heapPeakMb(): Long = peakHeap / (1024 * 1024)
  private def resetHeapPeaks(): Unit = peakHeap = 0L

  /** The `gate` mode auto-detects the index layout by fine.parquet's
    * presence, and the per-subpath Overwrite writes never clean a REUSED
    * dst — rebuilding a routed dir as flat (or vice versa) would leave
    * the other layout's tables behind and silently pair stale routing
    * tables with new members. Each builder therefore drops the OTHER
    * layout's subpaths up front. */
  private def dropOtherLayout(dst: String, routed: Boolean): Unit = {
    val stale = if (routed) Seq("cents.parquet") else Seq("fine.parquet", "coarse.parquet")
    stale.foreach { p =>
      queries.StagingRoots.deleteRecursively(java.nio.file.Paths.get(dst, p))
    }
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def xmxMb(): Long =
    Runtime.getRuntime.maxMemory() / (1024 * 1024)

  /** Near-identical-but-DISTINCT vectors OFF the corpus manifold (the
    * rebuildcycle adversary, shared by every rebuild rung): diverse
    * enough that a re-cluster can partition them, alien enough that
    * frozen routing funnels all of them into one cell. */
  private def blobVecs(spark: SparkSession, dim: Int, n: Int, shift: Long)
      : org.apache.spark.sql.DataFrame =
    spark.range(n).select((col("id") + shift).as("vec_id"))
      .select(col("vec_id"), expr(
        s"transform(sequence(0, ${dim - 1}), " +
          "i -> CAST(0.25 + 0.0001 * sin(vec_id * 13.7D + i) AS FLOAT))")
        .as("embedding"))

  /** One admit batch under the r16 geometry guard's reload-and-replay
    * contract: a StaleRoutingTablesException (a rebuild retired the
    * loaded tables) reloads from the index and replays the SAME batch —
    * nothing was committed by the refused attempt. Returns the
    * (possibly reloaded) tables, the flags frame, and whether a reload
    * happened. */
  private def admitReloading(spark: SparkSession, idx: String,
      staged0: queries.SimilarityQueries.StagedGateTables,
      chunk: org.apache.spark.sql.DataFrame)
      : (queries.SimilarityQueries.StagedGateTables,
         org.apache.spark.sql.DataFrame, Boolean) =
    try (staged0,
      graft.streaming.StreamingOps.semanticAdmitBatch(idx, staged0, chunk),
      false)
    catch {
      case _: queries.SimilarityQueries.StaleRoutingTablesException =>
        staged0.cells.unpersist()
        val staged = queries.SimilarityQueries.stagedGateTablesAt(spark, idx)
        (staged,
          graft.streaming.StreamingOps.semanticAdmitBatch(idx, staged, chunk),
          true)
    }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("staged")
    startHeapSampler()
    mode match {
      case "staged" =>
        val d = args(1)
        val targetCell = args.lift(2).map(_.toInt).getOrElse(16)
        val spark = session()
        val n = Tables.embeddings(spark, d).count()
        resetHeapPeaks()
        val (summary, wall) = time {
          val res = queries.SimilarityQueries
            .stagedStackRehearsal(spark, d, targetCell)
          res.agg(
            count(lit(1)).as("n_cells"),
            max(col("n_members")).as("max_cell"),
            sum(col("n_pairs")).as("n_pairs"),
            sum(col("n_sem_removed")).as("n_sem_removed"),
            any_value(col("n_total")).as("n_total"),
            any_value(col("n_reps")).as("n_reps")).head()
        }
        val k = math.ceil(summary.getAs[Long]("n_reps") / targetCell.toDouble).toLong
        println(s"""{"mode":"staged","dir":"$d","n_vectors":$n,""" +
          s""""target_cell":$targetCell,"k":$k,""" +
          s""""n_reps":${summary.getAs[Long]("n_reps")},""" +
          s""""n_cells":${summary.getAs[Long]("n_cells")},""" +
          s""""max_cell":${summary.getAs[Long]("max_cell")},""" +
          s""""n_pairs":${summary.getAs[Long]("n_pairs")},""" +
          s""""n_sem_removed":${summary.getAs[Long]("n_sem_removed")},""" +
          f""""wall_sec":$wall%.1f,"peak_heap_mb":${heapPeakMb()},""" +
          s""""xmx_mb":${xmxMb()}}""")

      case "census" =>
        val d = args(1)
        val targetCell = args.lift(2).map(_.toInt).getOrElse(64)
        val spark = session()
        resetHeapPeaks()
        val (rows, wall) = time {
          queries.SimilarityQueries.coarseCellCensus(spark, d, targetCell)
            .collect()
        }
        val sizes = rows.map(_.getAs[Long]("n_fine")).sorted
        val nFine = sizes.sum
        val k1 = rows.length
        def pct(p: Double): Long = sizes((p * (sizes.length - 1)).round.toInt)
        val top = rows.take(5).map(r =>
          s"[${r.getAs[Int]("fr")},${r.getAs[Long]("n_fine")}]").mkString(",")
        println(s"""{"mode":"census","dir":"$d","target_cell":$targetCell,""" +
          s""""k":$nFine,"k1_nonempty":$k1,""" +
          s""""mean_fine":${nFine / math.max(k1, 1)},""" +
          s""""p50":${pct(0.5)},"p99":${pct(0.99)},"max":${sizes.last},""" +
          s""""top5":[$top],""" +
          f""""wall_sec":$wall%.1f,"peak_heap_mb":${heapPeakMb()}}""")

      case "blobfix" =>
        val src = args(1)
        val dst = args(2)
        val blobPct = args.lift(3).map(_.toInt).getOrElse(5)
        val spark = session()
        val emb = Tables.embeddings(spark, src)
        val n = emb.count()
        val blobN = n * blobPct / 100
        // limit(0).agg(min) yields a null aggregate → NPE at getLong; fail
        // with a usable message instead (r11 ADVICE)
        require(blobN >= 1,
          s"blobfix: pct=$blobPct of n=$n rounds to blobN=$blobN (< 1) — " +
            "corpus too small or pct too low to plant a blob")
        // the blobN LARGEST md5 ranks can never be among the k smallest
        // (k ≪ n − blobN): a provably seedless blob
        val ranked = emb.withColumn("hk",
          functions.GraftFunctions.md5PrefixInt(col("vec_id").cast("string")))
        val cut = ranked.select(col("hk")).orderBy(col("hk").desc)
          .limit(blobN.toInt).agg(min(col("hk"))).head().getLong(0)
        val out = ranked.withColumn("embedding",
            when(col("hk") >= cut,
              expr("transform(embedding, (x, i) -> CAST(0.25 + 0.0001 * sin(vec_id * 13.7D + i) AS FLOAT))"))
              .otherwise(col("embedding")))
          .drop("hk")
        out.coalesce(8).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
        val planted = ranked.filter(col("hk") >= cut).count()
        println(s"""{"mode":"blobfix","src":"$src","dst":"$dst",""" +
          s""""n_vectors":$n,"blob_planted":$planted}""")

      case "append" =>
        val src = args(1)
        val idx = args(2)
        val mod = args.lift(3).map(_.toInt).getOrElse(20)
        // optional id shift (default 1e9) so SUCCESSIVE append rows can
        // carry distinct arrival ids (e.g. 1e9, 2e9, …) — the compact
        // rung appends several generations before merging them
        val shift = args.lift(4).map(_.toLong).getOrElse(1000000000L)
        val spark = session()
        resetHeapPeaks()
        val arrivals = Tables.embeddings(spark, src)
          .filter(pmod(col("vec_id"), lit(mod)) === 0)
          .select((col("vec_id") + lit(shift)).as("vec_id"),
            col("embedding"))
        val (n, wall) = time(
          queries.SimilarityQueries.semanticIndexAppend(spark, idx, arrivals))
        println(s"""{"mode":"append","src":"$src","idx":"$idx",""" +
          s""""n_appended":$n,""" +
          f""""append_wall_sec":$wall%.1f,"append_peak_heap_mb":${heapPeakMb()},""" +
          s""""xmx_mb":${xmxMb()}}""")

      case "dedup" =>
        val d = args(1)
        // optional filter (fresh-JVM single-query measurement: running
        // q118 after q117 in one JVM hands it JIT + page-cache warmup)
        val only = args.lift(2).map(_.split(',').toSet)
        val spark = session()
        val n = Tables.embeddings(spark, d).count()
        for ((name, q) <- Seq(
            "q117" -> queries.SimilarityQueries.q117SemanticDedupExactFirst _,
            "q118" -> queries.SimilarityQueries.q118SemanticDedupStack _)
            if only.forall(_.contains(name))) {
          resetHeapPeaks()
          val (rows, wall) = time(q(spark, d).count())
          println(s"""{"mode":"dedup","query":"$name","dir":"$d",""" +
            s""""n_vectors":$n,"rows":$rows,""" +
            f""""wall_sec":$wall%.1f,"peak_heap_mb":${heapPeakMb()},""" +
            s""""xmx_mb":${xmxMb()}}""")
          spark.sharedState.cacheManager.clearCache()
        }

      case "gateindex" =>
        // One-time static-index build for the streaming semantic gate:
        // centroid table + per-cell member arrays, WRITTEN as parquet (the
        // production discipline — the gate consumes a written index, never
        // rebuilds the corpus groupBy). Runs the batch q113 flat lane, so
        // at 2M vectors it carries that lane's known memory appetite
        // (3 cached corpus copies + the K = ⌈N/64⌉ argmin passes — the r8
        // measurement put the flat lane past 8g at this scale; production
        // builds would use the routed gateindexrs build). Build heap is
        // reported so the gate rows can cite it honestly.
        val src = args(1)
        val dst = args(2)
        val tc = args.lift(3).map(_.toInt)
          .getOrElse(queries.SimilarityQueries.TargetCell)
        val spark = session()
        val n = Tables.embeddings(spark, src).count()
        resetHeapPeaks()
        dropOtherLayout(dst, routed = false)
        val (cents, buildWall) = time {
          val (c, m) = queries.SimilarityQueries.semanticStreamIndex(spark, src, tc)
          // shared layout writer (range-partitioned members: each cid-range
          // shard's broadcast build scans only ITS files/row-groups)
          queries.SimilarityQueries.writeGateIndexFlat(spark, dst, c, m)
          c
        }
        println(s"""{"mode":"gateindex","src":"$src","dst":"$dst",""" +
          s""""n_vectors":$n,"k":${cents.length},""" +
          s""""index_payload_mb":${n * 272 / 1000000},""" +
          f""""build_wall_sec":$buildWall%.1f,""" +
          s""""build_peak_heap_mb":${heapPeakMb()},"xmx_mb":${xmxMb()}}""")

      case "gateindexrs" =>
        // ROUTED twin of `gateindex`: builds + writes the q116 routed-lane
        // index (routing tables + members by ROUTED cid) — seeds by banded
        // distributed sort, O(√K) coarse collect only, fine table and
        // Lloyd update as frames, assignment via the cell join +
        // CellArgmin path. A driver-resident build (K-row seed and Lloyd
        // collects + K·65-long reference arrays) was the K-axis heap
        // ceiling (29.3 GB at K=250k/2M vectors); this build fits the
        // 8 g dev default at the same K.
        val src = args(1)
        val dst = args(2)
        val tc = args.lift(3).map(_.toInt)
          .getOrElse(queries.SimilarityQueries.TargetCell)
        val spark = session()
        val n = Tables.embeddings(spark, src).count()
        resetHeapPeaks()
        dropOtherLayout(dst, routed = true)
        val (k, buildWall) = time {
          val (coarse, fineRouted, m) = queries.SimilarityQueries
            .semanticStreamIndexStaged(spark, src, tc)
          queries.SimilarityQueries
            .writeGateIndexStaged(spark, dst, coarse, fineRouted, m)
        }
        println(s"""{"mode":"gateindexrs","src":"$src","dst":"$dst",""" +
          s""""n_vectors":$n,"k":$k,""" +
          s""""index_payload_mb":${n * 272 / 1000000},""" +
          f""""build_wall_sec":$buildWall%.1f,""" +
          s""""build_peak_heap_mb":${heapPeakMb()},"xmx_mb":${xmxMb()}}""")

      case "gate" =>
        // The streaming semantic gate at its design regime: a 2M-vector
        // static reference corpus, whose member index (~272 B/vector raw:
        // 64 floats + vec_id + nrm ≈ 544 MB at 2M) is past comfortable
        // single-broadcast range — the bound the r11 cid-range sharding
        // exists for. Reads the `gateindex`/`gateindexrs`-written index in
        // a FRESH JVM (one per measured row) and gates a 1-in-<mod> probe
        // batch at nShards cid-range shards (1 = unsharded). The batch
        // twin IS the stream path (StreamingSpec pins stream ≡ batch and
        // shard ≡ unsharded on full replays), so these walls are
        // per-microbatch costs. Each shard's broadcast build reads ONLY
        // its cid range — the range filter pushes into the members
        // parquet scan. A routed index (fine.parquet present) switches
        // the assignment head to the staged routed head (O(√K) collected
        // coarse table; the K-row fine table stays a frame and meets
        // probes in a join); the verify tail and all variants are
        // layout-independent.
        val src = args(1)
        val idx = args(2)
        val nShards = args.lift(3).map(_.toInt).getOrElse(1)
        val probeMod = args.lift(4).map(_.toInt).getOrElse(20)
        require(nShards >= 1, s"nShards=$nShards (must be >= 1)")
        require(probeMod >= 1, s"probeMod=$probeMod (must be >= 1)")
        val spark = session()
        resetHeapPeaks()
        val hasFlat = java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$idx/cents.parquet"))
        val routed = java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$idx/fine.parquet"))
        // layout auto-detect is only safe when exactly one layout's tables
        // exist: a dir written before dropOtherLayout (or partially
        // deleted) could pair stale routing tables with the other build's
        // members (r12 ADVICE) — fail fast, direct to a rebuild
        require(!(hasFlat && routed),
          s"index dir $idx contains BOTH layouts (cents.parquet AND " +
            "fine.parquet) — stale mixed build; rebuild it with " +
            "gateindex/gateindexrs (which drop the other layout) or delete it")
        // gate mode reads members.parquet RAW (one row per cid); an index
        // that has received append generations would silently emit one
        // verify row per probe per generation — refuse it (r13 review)
        require(!queries.SimilarityQueries.hasAppendGenerations(idx),
          s"index dir $idx has append generations (_appended marker): " +
            "gate mode reads members raw — compact it first (SemScale " +
            "compact <idx>), rebuild it, or consume it through " +
            "readCellMembersMerged")
        val members = spark.read.parquet(s"$idx/members.parquet")
        val probe = Tables.embeddings(spark, src)
          .filter(pmod(col("vec_id"), lit(probeMod)) === 0)
          .select(col("vec_id"), col("embedding"))
        // `union` is one S-branch DAG (all shard relations resident at
        // once on a single JVM). `seq` drives the same shards
        // SEQUENTIALLY (one action per shard, broadcasts reclaimed
        // between) — the bounded-residency form for indexes past executor
        // memory as a whole — re-evaluating the assignment head per shard
        // (each branch self-contained, the union twin's semantics).
        // `seqa` is the assign-ONCE sequential form: the kernel runs one
        // time over the probe batch, the (probe-sized) assigned frame
        // persists, and each shard runs only its verify join — the form a
        // production foreachBatch consumer would use.
        val variant = args.lift(5).getOrElse("union")
        // Assignment head per layout, with the DRIVER-RESIDENT routing
        // state it carries (bytes) reported honestly: the flat head
        // collects O(K) centroid state — fine for per-microbatch probe
        // gates at today's K, structurally impossible at K ≥ 10⁷ — while
        // the routed head collects O(√K).
        val (k, assignHead, routingStateBytes): (Int, DataFrame => DataFrame, Long) =
          if (routed) {
            val tabs = queries.SimilarityQueries.stagedGateTables(
              spark.read.parquet(s"$idx/coarse.parquet"),
              spark.read.parquet(s"$idx/fine.parquet"))
            // k from the PERSISTED cells frame (one scan), not a third
            // cold read of fine.parquet (r13 review)
            val kk = tabs.cells.agg(sum(size(col("ids"))))
              .head().getLong(0).toInt
            (kk,
              (p: DataFrame) => graft.streaming.StreamingOps
                .semanticGateAssignStaged(p, tabs),
              tabs.coarse.map(_.size.toLong * 8 + 4).sum)
          } else {
            val cents = queries.SimilarityQueries.readFlatCents(spark, idx)
            (cents.length,
              (p: DataFrame) => graft.streaming.StreamingOps
                .semanticGateAssign(p, cents),
              cents.map(_.size.toLong * 8).sum)
          }
        val width = math.max(1, math.ceil(k.toDouble / nShards).toInt)
        def verifyShard(assigned: DataFrame, s: Int): DataFrame =
          graft.streaming.StreamingOps.semanticGateVerifyShard(
            assigned, members, s * width, s * width + width)
        val aggCols = Seq(count(lit(1)).as("n_probe"),
          count(when(col("semantic_near_dup"), 1)).as("n_flagged"),
          max(col("n_cell_members")).as("max_cell"))
        def agg1(df: DataFrame): (Long, Long, Int) = {
          val r = df.agg(aggCols.head, aggCols.tail: _*).head()
          (r.getAs[Long]("n_probe"), r.getAs[Long]("n_flagged"),
            if (r.isNullAt(2)) 0 else r.getAs[Int]("max_cell"))
        }
        val (res, gateWall) = time {
          variant match {
            case "union" =>
              agg1((0 until nShards).map(s => verifyShard(assignHead(probe), s))
                .reduce(_ union _))
            case "seq" | "seqa" =>
              val assignedOnce = if (variant == "seq") None else Some {
                val a = assignHead(probe)
                  .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                a.count() // materialize: the kernel pass happens HERE, once
                a
              }
              val out = (0 until nShards).map { s =>
                agg1(verifyShard(assignedOnce.getOrElse(assignHead(probe)), s))
              }.reduce((a, b) =>
                (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3)))
              assignedOnce.foreach(_.unpersist())
              out
            case other => sys.error(s"unknown gate variant: $other")
          }
        }
        println(s"""{"mode":"gate","src":"$src","idx":"$idx",""" +
          s""""k":$k,"n_shards":$nShards,"routed":$routed,""" +
          s""""variant":"$variant",""" +
          s""""routing_state_kb":${routingStateBytes / 1024},""" +
          s""""n_probe":${res._1},"n_flagged":${res._2},""" +
          s""""max_cell":${res._3},""" +
          f""""gate_wall_sec":$gateWall%.1f,"gate_peak_heap_mb":${heapPeakMb()},""" +
          s""""xmx_mb":${xmxMb()}}""")

      case "subset" =>
        // Write a HOLD-OUT base fixture: embeddings with vec_id%mod != 0
        // (the admitloop rung builds its index over this base, then
        // admits the held-out 1-in-mod residue class as genuinely NEW
        // arrivals — an index built over the full corpus would flag
        // every arrival as an exact duplicate of its own base copy)
        val src = args(1)
        val dst = args(2)
        val mod = args.lift(3).map(_.toInt).getOrElse(20)
        val spark = session()
        val kept = Tables.embeddings(spark, src)
          .filter(pmod(col("vec_id"), lit(mod)) =!= 0)
        kept.coalesce(8).write.mode("overwrite")
          .parquet(s"$dst/embeddings.parquet")
        println(s"""{"mode":"subset","src":"$src","dst":"$dst","mod":$mod,""" +
          s""""n_kept":${spark.read.parquet(s"$dst/embeddings.parquet").count()}}""")

      case "dumpmembers" =>
        // Extract an index's member vectors back out as an embeddings
        // corpus (merged across append generations if any) — the input
        // to a REBUILD: gateindexrs over the dump re-clusters the same
        // vector set under fresh tables, which is what quantifies the
        // frozen-tables drift the incremental-append contract accepts
        // between rebuilds.
        val idx = args(1)
        val dst = args(2)
        val spark = session()
        queries.SimilarityQueries.readCellMembersMerged(spark, idx)
          .select(explode(col("members")).as("m"))
          .select(col("m.vec_id"), col("m.e").as("embedding"))
          .coalesce(8).write.mode("overwrite")
          .parquet(s"$dst/embeddings.parquet")
        println(s"""{"mode":"dumpmembers","idx":"$idx","dst":"$dst",""" +
          s""""n_members":${spark.read.parquet(s"$dst/embeddings.parquet").count()}}""")

      case "admitloop" =>
        // The ONLINE admit loop at its design regime: drive
        // semanticAdmitBatch over nBatches sequential arrival chunks
        // against a WRITTEN routed index, with the maintenance policy in
        // the batch body — exactly the production foreachBatch shape.
        // Measures the two claims the sf0.01 specs pin but never weigh:
        // per-batch cost is batch-bounded (the member read prunes to the
        // batch's cells BEFORE the generation merge), and the policy
        // bounds generation accumulation while the loop runs.
        // policy=full (r16) runs maintainIndexWithRebuild instead of the
        // compact-only maintainIndex, and blobAt >= 0 injects the
        // off-manifold blob AFTER that batch's admit — forcing a rebuild
        // to fire MID-SOAK, with the loop reloading its routing tables
        // through the geometry guard's reload-and-replay contract. The
        // per-batch admitted/flagged counts are printed so a policy=full
        // transcript is comparable row-for-row against a policy-free one
        // (the r16 soak invariant: the policy changes WALL numbers, not
        // admission decisions, for batches before the blob). MUTATES <idx>.
        val src = args(1)
        val idx = args(2)
        val nBatches = args.lift(3).map(_.toInt).getOrElse(8)
        val mod = args.lift(4).map(_.toInt).getOrElse(20)
        val maxGens = args.lift(5).map(_.toInt).getOrElse(4)
        val policy = args.lift(6).getOrElse("compact") // compact | full
        val blobAt = args.lift(7).map(_.toInt).getOrElse(-1)
        val blobN = args.lift(8).map(_.toInt).getOrElse(100000)
        val spark = session()
        resetHeapPeaks()
        var staged = queries.SimilarityQueries.stagedGateTablesAt(spark, idx)
        val dim = Tables.embeddings(spark, src)
          .select(size(col("embedding"))).head().getInt(0)
        val arrivals = Tables.embeddings(spark, src)
          .filter(pmod(col("vec_id"), lit(mod)) === 0)
          .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
            col("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        arrivals.count()
        var nReloads = 0
        var nRebuilds = 0
        val walls = (0 until nBatches).map { b =>
          // chunk on vec_id/mod, not vec_id: arrival ids share the
          // residue 0 mod `mod`, so chunking on the raw id would land
          // them all in the residues gcd(mod, nBatches) divides
          val chunk = arrivals.filter(
            pmod(floor(col("vec_id") / lit(mod)), lit(nBatches)) === b)
          val ((nDup, nNew), admitWall) = time {
            val (st, flags, reloaded) = admitReloading(spark, idx, staged, chunk)
            staged = st
            if (reloaded) nReloads += 1
            val d = flags.filter(col("semantic_near_dup")).count()
            (d, flags.count() - d)
          }
          if (b == blobAt)
            queries.SimilarityQueries.semanticIndexAppend(spark, idx,
              blobVecs(spark, dim, blobN, 2000000000L))
          val (compacted, maintWall) =
            if (policy == "full") {
              val ((c, r), w) = time(queries.SimilarityQueries
                .maintainIndexWithRebuild(spark, idx, maxGens))
              if (r) {
                nRebuilds += 1
                // the policy OWNER reloads eagerly after its own rebuild
                // (peers rely on the guard); same tables object either way
                staged.cells.unpersist()
                staged = queries.SimilarityQueries.stagedGateTablesAt(spark, idx)
              }
              (c, w)
            } else time(
              queries.SimilarityQueries.maintainIndex(spark, idx, maxGens))
          val gens = queries.SimilarityQueries.appendGenerationCount(idx)
          System.err.println(f"[admitloop] batch $b: admit $admitWall%.1f s " +
            f"($nNew admitted, $nDup flagged), maintain $maintWall%.1f s " +
            s"(compacted=$compacted, gens now $gens)")
          (admitWall, maintWall, compacted, nNew, nDup)
        }
        arrivals.unpersist()
        staged.cells.unpersist()
        val admits = walls.map(_._1)
        val nCompactions = walls.count(_._3)
        val perBatch = walls.map(w => s"[${w._4},${w._5}]").mkString("[", ",", "]")
        println(s"""{"mode":"admitloop","src":"$src","idx":"$idx",""" +
          s""""n_batches":$nBatches,"max_gens":$maxGens,"policy":"$policy",""" +
          s""""blob_at":$blobAt,"admitted_flagged_per_batch":$perBatch,""" +
          f""""admit_first_sec":${admits.head}%.1f,""" +
          f""""admit_median_sec":${admits.sorted.apply(admits.size / 2)}%.1f,""" +
          f""""admit_max_sec":${admits.max}%.1f,""" +
          f""""maintain_total_sec":${walls.map(_._2).sum}%.1f,""" +
          s""""n_compactions":$nCompactions,"n_rebuilds":$nRebuilds,""" +
          s""""n_table_reloads":$nReloads,""" +
          s""""stale_lock_retries":${queries.SimilarityQueries.staleLockRetries.get},""" +
          s""""gens_final":${queries.SimilarityQueries.appendGenerationCount(idx)},""" +
          s""""geom_final":${queries.SimilarityQueries.indexGeometryVersion(idx)},""" +
          f""""peak_heap_mb":${heapPeakMb()},"xmx_mb":${xmxMb()}}""")

      case "compact" =>
        val idx = args(1)
        val spark = session()
        resetHeapPeaks()
        def layout(): (Long, Long, Long) = {
          val files = new java.io.File(s"$idx/members.parquet")
            .listFiles().count(_.getName.endsWith(".parquet")).toLong
          val rows = spark.read.parquet(s"$idx/members.parquet")
          val gens = rows.groupBy(col("cid")).count()
            .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
          (files, rows.count(), gens)
        }
        val (fB, rB, gB) = layout()
        val (ran, wall) = time(
          queries.SimilarityQueries.semanticIndexCompact(spark, idx))
        val (fA, rA, gA) = layout()
        println(s"""{"mode":"compact","idx":"$idx","ran":$ran,""" +
          s""""files_before":$fB,"rows_before":$rB,"max_gens_before":$gB,""" +
          s""""files_after":$fA,"rows_after":$rA,"max_gens_after":$gA,""" +
          s""""marked_after":${queries.SimilarityQueries.hasAppendGenerations(idx)},""" +
          f""""compact_wall_sec":$wall%.1f,"compact_peak_heap_mb":${heapPeakMb()},""" +
          s""""xmx_mb":${xmxMb()}}""")

      case "rebuildcycle" =>
        // T68 END TO END: trigger → rebuild → recovery, measured. Against
        // a WRITTEN staged index (gateindexrs), (1) record cell balance +
        // the blob-region gate wall on the healthy index, (2) append a
        // seedless near-identical-but-DISTINCT blob (the blobfix
        // adversary as an ARRIVAL stream — frozen routing funnels all of
        // it into one cell), (3) show rebuildDue firing and the gate wall
        // degrading to O(blob) verify work per routed probe, (4) run the
        // maintainIndexWithRebuild policy (compact-when-due +
        // rebuild-when-skewed), (5) show balance restored and the wall
        // recovered. MUTATES <idx>.
        val src = args(1)
        val idx = args(2)
        val blobN = args.lift(3).map(_.toInt).getOrElse(100000)
        val probeN = args.lift(4).map(_.toInt).getOrElse(256)
        val ratio = args.lift(5).map(_.toDouble).getOrElse(16.0)
        val spark = session()
        resetHeapPeaks()
        val dim = Tables.embeddings(spark, src)
          .select(size(col("embedding"))).head().getInt(0)
        // balance + trigger + one gated probe batch over the blob region;
        // the verify tail reads the merged members, so appended and
        // rebuilt states measure through the same read path
        def measure(label: String): (Long, Double, Boolean, Double, Long, Int) = {
          val (mx, med) = queries.SimilarityQueries.indexCellBalance(spark, idx)
          val due = queries.SimilarityQueries.rebuildDue(spark, idx, ratio)
          val staged = queries.SimilarityQueries.stagedGateTables(
            spark.read.parquet(s"$idx/coarse.parquet"),
            spark.read.parquet(s"$idx/fine.parquet"))
          val probes = blobVecs(spark, dim, probeN, 3000000000L)
          val members = queries.SimilarityQueries.readCellMembersMerged(spark, idx)
          val ((flagged, probeMaxCell), wall) = time {
            val v = graft.streaming.StreamingOps.semanticGateVerifyShard(
              graft.streaming.StreamingOps
                .semanticGateAssignStaged(probes, staged),
              members, 0, Int.MaxValue)
            val r = v.agg(count(when(col("semantic_near_dup"), 1)).as("f"),
              max(col("n_cell_members")).as("mc")).head()
            (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
          }
          staged.cells.unpersist()
          System.err.println(f"[rebuildcycle] $label: max_cell=$mx med=$med%.1f " +
            f"due=$due gate_wall=$wall%.1f s flagged=$flagged " +
            s"probe_max_cell=$probeMaxCell")
          (mx, med, due, wall, flagged, probeMaxCell)
        }
        val before = measure("before")
        val (nApp, appendWall) = time(queries.SimilarityQueries
          .semanticIndexAppend(spark, idx, blobVecs(spark, dim, blobN, 2000000000L)))
        val blobbed = measure("blobbed")
        val ((compacted, rebuilt), maintWall) = time(queries.SimilarityQueries
          .maintainIndexWithRebuild(spark, idx, maxGens = 1, rebuildRatio = ratio))
        val after = measure("after")
        println(s"""{"mode":"rebuildcycle","src":"$src","idx":"$idx",""" +
          s""""blob_n":$nApp,"probe_n":$probeN,"ratio":$ratio,""" +
          s""""before":{"max_cell":${before._1},"median":${before._2},""" +
          f""""due":${before._3},"gate_wall_sec":${before._4}%.1f,""" +
          s""""probe_max_cell":${before._6}},""" +
          f""""append_wall_sec":$appendWall%.1f,""" +
          s""""blobbed":{"max_cell":${blobbed._1},"median":${blobbed._2},""" +
          f""""due":${blobbed._3},"gate_wall_sec":${blobbed._4}%.1f,""" +
          s""""probe_max_cell":${blobbed._6},"flagged":${blobbed._5}},""" +
          s""""policy":{"compacted":$compacted,"rebuilt":$rebuilt,""" +
          f""""wall_sec":$maintWall%.1f},""" +
          s""""after":{"max_cell":${after._1},"median":${after._2},""" +
          f""""due":${after._3},"gate_wall_sec":${after._4}%.1f,""" +
          s""""probe_max_cell":${after._6},"flagged":${after._5}},""" +
          f""""peak_heap_mb":${heapPeakMb()},"xmx_mb":${xmxMb()}}""")

      case "admitproc" =>
        // ONE admit process of the cross-process lock rehearsal (r14):
        // two of these run CONCURRENTLY from separate JVMs
        // (tools/runjvm.sh) against ONE index, admitting the SAME
        // arrival ids in the same batch order — the double-admit
        // hazard. One of them maintains with maxGens=1 so compactions
        // fire WHILE the other is admitting — the lost-delta hazard
        // (a compact racing an append could sweep the append's
        // just-committed delta aside with the pre-compact dir). The
        // two-level lock (JVM monitor + OS FileChannel.lock) must
        // serialize all of it; `verifyindex` afterwards checks no id
        // was admitted twice and no delta was lost.
        // r16 extends the rehearsal across a REBUILD: policy=full runs
        // maintainIndexWithRebuild, and blobAt >= 0 injects the
        // off-manifold blob after that batch's admit — so one process
        // swaps the whole index directory WHILE the other is admitting.
        // The peer must survive through the two r16 mechanisms: the
        // token-validated lock (a writer blocked across the swap
        // re-acquires on the fresh lock file instead of holding the
        // orphaned inode) and the geometry guard (its frozen tables are
        // refused, it reloads and replays). MUTATES <idx>.
        val src = args(1)
        val idx = args(2)
        val tag = args(3)
        val nBatches = args.lift(4).map(_.toInt).getOrElse(6)
        val mod = args.lift(5).map(_.toInt).getOrElse(4)
        val maxGens = args.lift(6).map(_.toInt).getOrElse(Int.MaxValue)
        val policy = args.lift(7).getOrElse("compact") // compact | full
        val blobAt = args.lift(8).map(_.toInt).getOrElse(-1)
        val blobN = args.lift(9).map(_.toInt).getOrElse(100000)
        val spark = session()
        var staged = queries.SimilarityQueries.stagedGateTablesAt(spark, idx)
        val dim = Tables.embeddings(spark, src)
          .select(size(col("embedding"))).head().getInt(0)
        val arrivals = Tables.embeddings(spark, src)
          .filter(pmod(col("vec_id"), lit(mod)) === 0)
          .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
            col("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nArr = arrivals.count()
        var nReloads = 0
        var nRebuilds = 0
        val walls = (0 until nBatches).map { b =>
          val chunk = arrivals.filter(
            pmod(floor(col("vec_id") / lit(mod)), lit(nBatches)) === b)
          val (nFlags, admitWall) = time {
            val (st, flags, reloaded) = admitReloading(spark, idx, staged, chunk)
            staged = st
            if (reloaded) nReloads += 1
            flags.count()
          }
          if (b == blobAt)
            queries.SimilarityQueries.semanticIndexAppend(spark, idx,
              blobVecs(spark, dim, blobN, 2000000000L))
          val compacted =
            if (policy == "full") {
              // the full policy honors the passed compact cadence as-is
              // (unbounded maxGens = never compact, rebuild poll still
              // runs each batch)
              val (c, r) = queries.SimilarityQueries
                .maintainIndexWithRebuild(spark, idx, maxGens)
              if (r) {
                nRebuilds += 1
                staged.cells.unpersist()
                staged = queries.SimilarityQueries.stagedGateTablesAt(spark, idx)
              }
              c
            } else if (maxGens != Int.MaxValue)
              queries.SimilarityQueries.maintainIndex(spark, idx, maxGens)
            else false
          System.err.println(f"[admitproc $tag] batch $b: $nFlags flags " +
            f"in $admitWall%.1f s, compacted=$compacted")
          admitWall
        }
        arrivals.unpersist()
        staged.cells.unpersist()
        println(s"""{"mode":"admitproc","tag":"$tag","idx":"$idx",""" +
          s""""n_arrivals":$nArr,"n_batches":$nBatches,"policy":"$policy",""" +
          s""""n_rebuilds":$nRebuilds,"n_table_reloads":$nReloads,""" +
          s""""stale_lock_retries":${queries.SimilarityQueries.staleLockRetries.get},""" +
          f""""admit_total_sec":${walls.sum}%.1f}""")

      case "verifyindex" =>
        // Post-contention invariants of the admitproc pair: every member
        // vec_id appears EXACTLY once across all generations (a failed
        // lock double-admits), and the member set is exactly
        // base ∪ arrivals (a compact racing an append silently LOSES the
        // delta — count shortfall). Prints the facts; the rehearsal
        // transcript in SCALE.md records the expected values.
        val idx = args(1)
        val spark = session()
        val m = queries.SimilarityQueries.readCellMembersMerged(spark, idx)
          .select(explode(col("members")).as("mm"))
          .select(col("mm.vec_id").as("vec_id"))
        val total = m.count()
        val distinct = m.distinct().count()
        val maxMult = m.groupBy(col("vec_id")).count()
          .agg(max(col("count"))).head().getLong(0)
        val nBase = m.filter(col("vec_id") < 1000000000L).count()
        val nArr = total - nBase
        println(s"""{"mode":"verifyindex","idx":"$idx","n_members":$total,""" +
          s""""n_distinct":$distinct,"max_multiplicity":$maxMult,""" +
          s""""n_base":$nBase,"n_arrivals_admitted":$nArr,""" +
          s""""gens":${queries.SimilarityQueries.appendGenerationCount(idx)},""" +
          s""""marked":${queries.SimilarityQueries.hasAppendGenerations(idx)}}""")

      case "lockhold" =>
        // Hold the index mutation lock from THIS process for <ms>
        // milliseconds (no Spark needed): the SIGKILL half of the lock
        // rehearsal kills this process mid-hold and probes that the OS
        // releases FileChannel locks on process death (no stale-lock
        // state to heal); the blocking half probes while it is alive.
        val idx = args(1)
        val ms = args.lift(2).map(_.toLong).getOrElse(60000L)
        queries.SimilarityQueries.withIndexLock(idx) {
          println("HELD")
          System.out.flush()
          Thread.sleep(ms)
        }
        println("RELEASED")

      case "lockprobe" =>
        // Time how long acquiring the index lock takes from this process
        // — ~0 s against a dead (SIGKILLed) holder, ~the remaining hold
        // time against a live one (proves the OS lock actually blocks
        // ACROSS processes, which the same-JVM latch spec cannot).
        val idx = args(1)
        val t0 = System.nanoTime()
        queries.SimilarityQueries.withIndexLock(idx) {}
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"""{"mode":"lockprobe","idx":"$idx","acquire_sec":$wall%.2f}""")

      case other =>
        System.err.println(s"unknown mode: $other " +
          "(staged|census|blobfix|append|dedup|gateindex|" +
          "gateindexrs|gate|subset|admitloop|compact|dumpmembers|" +
          "admitproc|verifyindex|lockhold|lockprobe)")
        sys.exit(2)
    }
  }
}
