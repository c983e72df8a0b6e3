package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import queries.StagingRoots

/** Pins the staging layer's two contracts (queries.StagingRoots): a build
  * releases exactly the frames it persisted — never a frame another thread
  * persisted while the build was open — and each chain's declaration names
  * every query that reads what the chain stages.
  */
class StagingChainsSpec extends GraftSuite {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a staging build releases its own frames and keeps a concurrent " +
    "non-build persist") {
    val buildPersisted = new CountDownLatch(1)
    val otherPersisted = new CountDownLatch(1)
    @volatile var otherIds = Set.empty[Int]
    @volatile var otherFailure: Option[Throwable] = None
    @volatile var other: org.apache.spark.sql.DataFrame = null
    val t = new Thread(() => {
      try {
        assert(buildPersisted.await(120, TimeUnit.SECONDS))
        val before = persistedIds
        // the helper outside any scope is a plain persist
        other = StagingRoots.persist(spark.range(500).selectExpr("id * 7 AS z"))
        other.count()
        otherIds = persistedIds -- before
      } catch { case e: Throwable => otherFailure = Some(e) }
      finally otherPersisted.countDown()
    })
    t.start()
    var buildIds = Set.empty[Int]
    val staged = StagingRoots.table(spark, "spec", "owner", s"owner_${System.nanoTime()}") {
      val before = persistedIds
      val a = StagingRoots.persist(spark.range(500).selectExpr("id * 3 AS x"))
      val b = StagingRoots.persist(a.selectExpr("x + 1 AS y"))
      a.count()
      b.count()
      buildIds = persistedIds -- before
      buildPersisted.countDown()
      // the other thread persists while this build is still open
      assert(otherPersisted.await(120, TimeUnit.SECONDS))
      b
    }
    t.join()
    otherFailure.foreach(throw _)
    assert(buildIds.size == 2 && otherIds.size == 1, s"build $buildIds, other $otherIds")
    val after = persistedIds
    assert(otherIds.subsetOf(after), "the build released a frame it did not persist")
    assert((buildIds & after).isEmpty, s"the build left ${buildIds & after} cached")
    assert(staged.count() == 500)
    other.unpersist()
  }

  test("the routed gate's read path leaves no cached frame behind: " +
    "running q127 and q129 twice adds no persistent RDD") {
    // stage the index and warm the coarse-table memo first
    queries.GateStaging.build(spark, sf, flat = false, routed = true)
    val before = persistedIds
    for (_ <- 1 to 2; q <- Seq("q127_semantic_gate_routed", "q129_semantic_gate_staged"))
      SparkEntry.queries(q)(spark, sf).collect()
    assert((persistedIds -- before).isEmpty,
      s"gate reads left ${persistedIds -- before} cached")
  }

  test("q88 run outside any owning scope releases every frame it persisted, " +
    "its incoming batch included") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    // the staged index: its build scope releases the build's persists,
    // and its tables are read back from parquet, uncached
    queries.DedupQueries.IncrementalIndex.of(spark, sf)
    assert(cacheManager.isEmpty, "the incremental index build left cached frames")
    assert(SparkEntry.queries("q88_incremental_dedup")(spark, sf).collect().length == 1)
    assert(cacheManager.isEmpty, "q88 left cached frames")
  }

  test("every job a chain's build starts carries the chain's job " +
    "description, its parts' pool threads included") {
    // a fresh corpus path, so the per-JVM memo builds instead of returning
    // what an earlier test staged
    val alias = java.nio.file.Files.createTempDirectory("graft_chain_desc")
      .resolve("sf")
    java.nio.file.Files.createSymbolicLink(alias, java.nio.file.Paths.get(sf))
    val eval = StagingRoots.chains.find(_.name == "eval").get
    val (_, jobs) = jobDescriptionsDuring(eval.build(spark, alias.toString))
    assert(jobs.nonEmpty, "the eval build started no job")
    assert(jobs.forall(_ == "q_staging_eval"),
      s"other job descriptions: ${jobs.filter(_ != "q_staging_eval").distinct.map(d => if (d.isEmpty) "<none>" else d)}")
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null,
      "the build left its description on the calling thread")
  }

  test("declared consumers are queries, and a part's build stages " +
    "everything its consumers read") {
    val declared = StagingRoots.chains.flatMap(_.consumers).toSet
    assert(declared.nonEmpty)
    assert(declared.subsetOf(SparkEntry.queries.keySet),
      s"not queries: ${declared -- SparkEntry.queries.keySet}")
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01")
    for (c <- StagingRoots.chains; p <- c.parts) {
      // a fresh corpus path per part: every memo misses, so a consumer
      // reading another part's (or chain's) staging adds a key
      val alias = java.nio.file.Files.createTempDirectory("graft_chain_probe")
        .resolve("sf")
      java.nio.file.Files.createSymbolicLink(alias, sf001)
      val before = persistedIds
      p.build(spark, alias.toString)
      assert((persistedIds -- before).isEmpty,
        s"${c.name} ${p.consumers} build left frames cached")
      val keys = StagingRoots.memoKeys
      p.consumers.foreach { q =>
        SparkEntry.queries(q)(spark, alias.toString)
        val added = StagingRoots.memoKeys -- keys
        assert(added.isEmpty, s"$q (declared under ${c.name}) staged $added")
      }
    }
  }
}
