package graft

import java.nio.file.{Files, Path, Paths}

/** Every `main` in src/main either runs here or in a named caller, and the
  * three rehearsal mains run end to end at toy size on the test session.
  */
class MainsSpec extends GraftSuite {

  /** Bench and Verify (the benchmark and correctness entry points, both
    * run by perfbench), Explain (tools/profile_stages.sh), and the
    * rehearsals this spec runs. */
  private val allowed = Set("Bench", "Verify", "Explain", "ScaleFixture", "SweepScale",
    "GraphScale")

  test("every object with a main under src/main/scala is a known entry point") {
    import scala.jdk.CollectionConverters._
    val objectDecl = """(?m)^\s*(?:private\S*\s+)?object\s+(\w+)""".r
    val mainDecl = """def\s+main\s*\(""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, "no sources found under src/main/scala")
    // each main belongs to the last object declared before it
    val mains = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val objects = objectDecl.findAllMatchIn(text).map(m => (m.start, m.group(1))).toSeq
      mainDecl.findAllMatchIn(text).flatMap(m => objects.takeWhile(_._1 < m.start).lastOption)
        .map(_._2).toSeq
    }.toSet
    assert(mains.contains("Bench"), s"inventory missed Bench: $mains")
    assert((mains -- allowed).isEmpty,
      s"mains that no spec, bench or tool runs: ${(mains -- allowed).toSeq.sorted.mkString(", ")}")
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("SweepScale runs its 42-config step") {
    val out = tmp("graft_sweep_scale")
    try {
      val Seq(r) = SweepScale.run(spark, sf, out.toString,
        SweepScale.steps.filter(_.gen == "sweep42"), gen800 = false)
      assert(r.step == "sweep42" && r.nConfigs == 42)
      assert(r.resultRows > 0 && r.resultRows <= 42, r)
      assert(Sweep.results(spark, out.toString).count() == r.resultRows)
    } finally queries.StagingRoots.deleteRecursively(out)
  }

  test("GraphScale's two component algorithms agree on toy graphs") {
    val rs = GraphScale.run(spark, nChain = 2000, nCliques = 200, nRandEdges = 4000)
    assert(rs.map(_.graph) == Seq("chain", "cliques", "random"))
    val byName = rs.map(r => r.graph -> r).toMap
    assert(byName("chain").components == 1 && byName("chain").nodes == 2000)
    // the chain is deep enough that propagation needs its pointer jump
    assert(byName("chain").propagationRounds > 2)
    assert(byName("cliques").components == 200 && byName("cliques").nodes == 2000)
    assert(byName("random").components >= 1 && byName("random").nodes <= 2000)
  }

  test("ScaleFixture at 2x1 writes the row counts its header promises") {
    val dst = tmp("graft_scale_fixture")
    try {
      ScaleFixture.run(spark, sf, dst.toString, seriesK = 2, timeK = 1, opts = Set.empty)
      def rows(dir: String, t: String): Long =
        spark.read.parquet(s"$dir/$t.parquet").count()
      for (t <- Seq("region", "nation"))
        assert(rows(dst.toString, t) == rows(sf, t), t)
      for (t <- Seq("customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"))
        assert(rows(dst.toString, t) == 2 * rows(sf, t), t)
    } finally queries.StagingRoots.deleteRecursively(dst)
  }
}
