package graft

import org.apache.spark.sql.functions._

class CoreQueriesSpec extends GraftSuite {

  private def cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  test("every registered query has rows at sf0.001 and a matching oracle key") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    // the runner's cache contract: a run releases every frame its query
    // persisted, also on a rerun with the staging memo warm. Counted on
    // the CacheManager, not getPersistentRDDs: the localCheckpoint RDDs of
    // q61, q87 and StarComponents belong to Spark's ContextCleaner.
    spark.catalog.clearCache()
    def rows(name: String): Long = {
      var n = -1L
      SparkEntry.run(spark, name, qs(name), sf)(df => n = df.count()).foreach(e => throw e)
      assert(cacheManager.isEmpty, s"$name left cached frames")
      n
    }
    // q56's WFO folds are legitimately empty on sf0.001's short series
    // (n < purge + 2·testSize, the reference's own early-return) — its
    // rows>0 smoke runs at sf0.01 below, where folds exist.
    qs.keys.foreach { name =>
      val n = rows(name)
      if (name != "q56_wfo_fold_metrics") assert(n > 0, s"$name returned 0 rows")
    }
    Seq("q116_semantic_dedup_routed", "q118_semantic_dedup_stack",
      "q119_semantic_dedup_capped").foreach(rows)
    assert(qs("q56_wfo_fold_metrics")(spark, "/root/testdata/sf0.01").count() > 0)
    // Every oracle key must point at an existing query.
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(qs.contains(k), s"oracle $k has no query")
    }
  }

  test("run returns a failing query's error and releases only its frames; " +
    "select names an unknown query") {
    spark.catalog.clearCache()
    val outsider = spark.range(7).toDF("x").persist()
    var mine: org.apache.spark.sql.DataFrame = null
    val boom = new IllegalStateException("boom")
    val err = SparkEntry.run(spark, "boom", (s, _) => {
      mine = queries.StagingRoots.persist(s.range(100).toDF("id"))
      assert(mine.count() == 100)
      throw boom
    }, sf)(_ => fail("the sink ran after the query threw"))
    assert(err.contains(boom))
    assert(mine.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(outsider.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    outsider.unpersist()
    assert(cacheManager.isEmpty)
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some(Set("nope"))))
    assert(e.getMessage.contains("nope"))
  }

  test("entry() smoke") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q80 histogram quantile lands within one bin of the target order statistic") {
    // The histogram targets rank ceil(q·n); its guarantee is that the
    // estimate falls inside the bin CONTAINING that order statistic
    // (≤ one bin width away) — NOT that it matches an interpolating
    // percentile, whose neighboring order stats in a sparse tail can sit
    // many bins apart.
    val hist = queries.CoreQueries.q80HistogramQuantile(spark, sf)
      .collect().map(r => r.getAs[String]("l_returnflag") -> r).toMap
    val groups = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .collect().groupBy(_.getString(0))
      .map { case (g, rs) => g -> rs.map(_.getDouble(1)).sorted }
    assert(hist.nonEmpty && groups.nonEmpty)
    groups.foreach { case (g, vs) =>
      val binw = (vs.last - vs.head) / 4096.0
      for ((q, name) <- Seq((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))) {
        val target = math.ceil(q * vs.length).toLong.toInt
        val orderStat = vs(target - 1)
        val h = hist(g).getAs[Double](name)
        assert(math.abs(h - orderStat) <= binw + 1e-6,
          s"$g $name: hist $h vs order stat $orderStat (bin width $binw)")
      }
    }
  }

  test("q81 sessions replay brute-force for a sample of users") {
    val ev = Tables.events(spark, sf)
    val rows = ev.select(col("user_id"), Tables.tsUs(ev).as("ts_us")).collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) => u -> rs.map(_.getAs[Long]("ts_us")).sorted }
    val got = queries.CoreQueries.q81Sessionization(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(got.size == rows.size)
    rows.foreach { case (u, ts) =>
      val gapUs = 30L * 60 * 1000 * 1000
      var sessions = List.empty[List[Long]]
      ts.foreach { t =>
        sessions match {
          case cur :: rest if t - cur.head <= gapUs =>
            sessions = (t :: cur) :: rest
          case _ => sessions = List(t) :: sessions
        }
      }
      val r = got(u)
      assert(r.getAs[Long]("n_sessions") == sessions.length.toLong, s"user $u sessions")
      assert(r.getAs[Long]("n_events") == ts.length.toLong, s"user $u events")
      val maxDur = sessions.map(ss => ss.max - ss.min).max
      assert(r.getAs[Long]("max_session_ms") == maxDur / 1000, s"user $u max dur")
    }
  }

  test("q82 funnel stages are monotone and the plan keeps one user exchange") {
    val r = queries.CoreQueries.q82Funnel(spark, sf).collect().head
    val (nv, nc, np) = (r.getAs[Long]("n_viewed"),
      r.getAs[Long]("n_clicked_after_view"), r.getAs[Long]("n_purchased_after_click"))
    assert(nv >= nc && nc >= np, s"funnel not monotone: $nv $nc $np")
    assert(np >= 0 && nv <= r.getAs[Long]("n_users"))
    val plan = queries.CoreQueries.q82Funnel(spark, sf)
      .queryExecution.executedPlan.toString
    // all three window stages + the per-user collapse ride ONE hash
    // partitioning on user_id: exactly one shuffle before the final
    // single-row aggregation
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges:\n$plan")
  }

  test("q02 conditional aggregates agree with a direct recomputation") {
    val li = Tables.lineitem(spark, sf)
    val got = queries.CoreQueries.q02CondAgg(spark, sf)
      .agg(sum("n")).first().getLong(0)
    assert(got == li.count())
  }

  test("q04 lag/lead round-trip: lead(lag(x)) == x off the edges") {
    val df = queries.CoreQueries.q04WindowLagLead(spark, sf)
    val bad = df.filter(col("rn") > 1 && col("prev_value").isNull).count()
    assert(bad == 0)
  }

  test("q08 topk is deterministically ordered") {
    val a = queries.CoreQueries.q08TopK(spark, sf).collect().map(_.getLong(0)).toSeq
    val b = queries.CoreQueries.q08TopK(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("q01 plan pushes filters into the parquet scan") {
    val plan = queries.CoreQueries.q01FilteredScan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"no pushed filters in plan:\n$plan")
  }

  test("q52 cube: grouping sets reconcile and the HLL sketch tracks exact") {
    val li = Tables.lineitem(spark, sf)
    val cube = queries.CoreQueries.q52CubeDistinct(spark, sf).collect()
    // the gid=3 grand-total row equals the whole table; detail rows (gid=0)
    // partition it
    val grand = cube.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n") == li.count())
    assert(cube.filter(_.getAs[Long]("gid") == 0L).map(_.getAs[Long]("n")).sum
      == li.count())
    // rollup is the cube minus the column-rolled grouping set
    val rollupN = li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1))).count()
    assert(rollupN == cube.length - cube.count(_.getAs[Long]("gid") == 2L))
    // HLL (A11): approx_count_distinct's default rsd is 5%; assert the
    // sketch lands within 3 sigma of the exact distinct count
    val Array(exact, approx) = li
      .agg(countDistinct(col("l_orderkey")).cast("double"),
        approx_count_distinct(col("l_orderkey")).cast("double"))
      .first().toSeq.map(_.asInstanceOf[Double]).toArray
    assert(math.abs(approx - exact) / exact <= 0.15,
      s"HLL estimate $approx too far from exact $exact")
  }
}
