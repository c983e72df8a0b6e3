package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staging layer, implemented once. A staging table is written once
  * per (JVM, corpus) and read back by every consumer — the reference
  * writes `{direction}_folds.parquet` once and every ranking round reads
  * it (gen720_ranking_experiments.py:96-105). Every builder (dedup, eval,
  * mcdm, gate, q88's incremental index) goes through [[dir]]/[[tables]]:
  * one temp root, one memo, one Overwrite write, one `[staging_*]` timing
  * line. [[chains]] declares which queries read which chain; Bench derives
  * its `q_staging_*` rows from it.
  *
  * Cache ownership: every frame the program persists for a multi-pass
  * plan goes through [[persist]], which records it in the calling
  * thread's innermost [[owningCaches]] scope; the scope unpersists exactly
  * those frames when it closes, on success or failure. Each query run
  * (`SparkEntry.run`) is one scope and each staged build another, so a
  * query's frames live for that run and a build's until its parquet is
  * written. A persist made on any other thread, or outside every scope,
  * is a plain persist and is never touched. */
private[graft] object StagingRoots {
  import java.nio.file.{Files, Path}

  /** Recursive delete, closing the Files.walk stream (it holds directory
    * handles until closed). */
  def deleteRecursively(r: Path): Unit =
    if (Files.exists(r)) {
      val walk = Files.walk(r)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Recursive copy of a directory tree into `dst` (which may already
    * exist — children are created under it). The q130 lifecycle lane
    * copies its memoized PRISTINE base index into a fresh workdir per
    * invocation, because append/compact MUTATE the index in place and a
    * memoized build must never be mutated. */
  def copyRecursively(src: Path, dst: Path): Unit = {
    import java.nio.file.StandardCopyOption
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Collision-free filename stem for a corpus dir path (String.hashCode
    * is 32-bit: two corpora would share one staged dir). */
  def pathKey(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Per-JVM temp root of every staged table, deleted on JVM exit — staged
    * copies would otherwise accumulate in /tmp across JVMs. */
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_staging")
    sys.addShutdownHook { deleteRecursively(r) }
    r
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[Any]]()

  private[graft] def memoKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    memo.keySet.asScala.toSet
  }

  /** The per-JVM memo: the first caller of `key` runs `build` OUTSIDE the
    * map's critical section (computeIfAbsent would hold the hash-bin lock
    * for the whole build, serializing unrelated keys), later callers join
    * the same future. A FAILED build removes the key so a retry rebuilds
    * (writers use Overwrite, so the retry starts clean over the debris),
    * and the failure rethrows its RAW cause, not the CompletionException
    * join() wraps it in. */
  def memoized[A](key: String)(build: => A): A = {
    val fresh = new java.util.concurrent.CompletableFuture[Any]()
    val prior = memo.putIfAbsent(key, fresh)
    val fut = if (prior != null) prior else {
      try fresh.complete(build)
      catch { case e: Throwable =>
        memo.remove(key, fresh)
        fresh.completeExceptionally(e)
      }
      fresh
    }
    try fut.join().asInstanceOf[A] catch {
      case e: java.util.concurrent.CompletionException if e.getCause != null =>
        throw e.getCause
    }
  }

  private def staged[A](chain: String, kind: String, d: String)(write: Path => A): A = {
    val key = s"${chain}_${kind}_${pathKey(d)}"
    memoized(key) {
      val t0 = System.nanoTime()
      val out = owningCaches(write(root.resolve(key)))
      println(f"[staging_$chain] $kind built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      out
    }
  }

  /** The staged directory `chain`/`kind` for corpus `d`, written by
    * `write(path)` on first use. */
  def dir(chain: String, kind: String, d: String)(write: String => Unit): String =
    staged(chain, kind, d) { p => write(p.toString); p.toString }

  /** `build`'s frames staged as parquet tables (written concurrently, with
    * Overwrite so a retry never appends onto a failed build's part-files)
    * and read back, in order. */
  def tables(spark: SparkSession, chain: String, kind: String, d: String)(
      build: => Seq[DataFrame]): Seq[DataFrame] =
    staged(chain, kind, d) { p =>
      val paths = build.zipWithIndex.map { case (f, i) =>
        (f, p.resolve(i.toString).toString) }
      all(paths.map { case (f, q) => () =>
        f.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(q) })
      paths.map(_._2)
    }.map(graft.sources.ResultSink.read(spark, _))

  def table(spark: SparkSession, chain: String, kind: String, d: String)(
      build: => DataFrame): DataFrame =
    tables(spark, chain, kind, d)(Seq(build)).head

  private val scopes = ThreadLocal.withInitial[List[
    scala.collection.mutable.ArrayBuffer[DataFrame]]](() => Nil)

  /** `df` persisted MEMORY_AND_DISK, owned by the calling thread's
    * innermost [[owningCaches]] scope if one is open. */
  def persist(df: DataFrame): DataFrame = {
    scopes.get.headOption.foreach(_ += df)
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Runs `body`, then unpersists exactly the frames it [[persist]]ed on
    * this thread (nested scopes release their own frames). Newest first:
    * a frame cached on top of an older one goes before it, so no release
    * re-plans a frame that is about to go too. */
  def owningCaches[A](body: => A): A = {
    val mine = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.reverseIterator.foreach(_.unpersist(blocking = false))
    }
  }

  /** Runs every task concurrently (inline when there is one), awaits ALL
    * of them — returning on the first failure would tear down a pool under
    * still-running siblings — then rethrows the first failure in task
    * order. */
  def all[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      import java.util.concurrent.{CompletableFuture, CompletionException, Executors}
      val pool = Executors.newFixedThreadPool(tasks.size)
      try {
        val fs = tasks.map(t => CompletableFuture.supplyAsync(() => t(), pool))
        fs.foreach(f => scala.util.Try(f.join()))
        fs.map(f => try f.join() catch {
          case e: CompletionException if e.getCause != null => throw e.getCause
        })
      } finally pool.shutdown()
    }

  /** One staged build and the queries that read what it stages. */
  final case class Part(consumers: Set[String], build: (SparkSession, String) => Unit)

  /** A staging chain: independent parts, built concurrently. */
  final case class Chain(name: String, parts: Seq[Part]) {
    def consumers: Set[String] = parts.flatMap(_.consumers).toSet

    /** Builds every part under the job description `q_staging_<name>`, so
      * the event log attributes the chain's jobs. The parts' pool threads
      * are created inside the call and inherit Spark's local properties. */
    def build(spark: SparkSession, d: String): Unit = {
      spark.sparkContext.setJobDescription(s"q_staging_$name")
      try all(parts.map(p => () => p.build(spark, d)))
      finally spark.sparkContext.setJobDescription(null)
    }
  }

  /** Every staging chain, declared once. Each part names its consumers:
    * the queries whose construction reads what the part stages. */
  lazy val chains: Seq[Chain] = Seq(
    Chain("dedup", Seq(
      Part(Set("q49_dedup_pipeline", "q61_dup_components", "q79_split_leakage",
          "q87_components_star", "q89_cluster_rep"),
        (s, d) => { DedupQueries.Staging.scoredAndCounts(s, d); () }),
      Part(Set("q88_incremental_dedup"),
        (s, d) => { DedupQueries.IncrementalIndex.of(s, d); () }))),
    Chain("eval", Seq(Part(Set("q72_signal_regularity", "q122_tamrs",
        "q123_tier_screening"), EvalStaging.build))),
    Chain("mcdm", Seq(Part(Set("q131_entropy_topsis", "q132_promethee",
        "q133_stability_rank", "q134_universality", "q135_bootstrap_rank",
        "q136_rank_agreement", "q139_rank_matrix", "q141_best_barriers",
        "q142_top_barriers"), McdmStaging.build))),
    Chain("gate", Seq(
      Part(Set("q126_semantic_gate_census"),
        GateStaging.build(_, _, flat = true, routed = false)),
      Part(Set("q127_semantic_gate_routed", "q129_semantic_gate_staged"),
        GateStaging.build(_, _, flat = false, routed = true)),
      Part(Set("q130_semantic_index_append"),
        GateStaging.build(_, _, flat = false, routed = false, appendBase = true)))))

  /** The chains a run over `only` (None: every query) stages, each cut to
    * the parts a selected query reads. */
  def chainsFor(only: Option[Set[String]]): Seq[Chain] =
    chains.map(c => c.copy(parts = c.parts.filter(p =>
      only.forall(o => p.consumers.exists(o))))).filter(_.parts.nonEmpty)
}
