package graft

/** Dev tool: print the formatted physical plan (and optionally run) a named
  * SparkEntry query — the `.explain("formatted")` iteration loop from the
  * README's scale checklist, without editing Bench. Usage:
  *   runMain graft.Explain <queryName> [sfDir] [run|run2|codegen]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query> [sfDir] [run|run2|codegen]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val fn = SparkEntry.selectOrExit(Some(Set(name))).head._2
    val spark = SparkEntry.session(sfDir, SparkEntry.cpus)
    val reps = args.lift(2) match {
      case Some("run") => 1
      case Some("run2") => 2 // second run isolates codegen/compile cost
      case _ => 0
    }
    val tc = System.nanoTime()
    SparkEntry.run(spark, name, fn, sfDir) { df =>
      // queries with driver-side iteration (q61's propagation loop, q64's
      // merge rounds) do their distributed work during construction — time it
      println(f"[explain] $name constructed in ${(System.nanoTime() - tc) / 1e9}%.3f s")
      df.explain("formatted")
      if (args.lift(2).contains("codegen")) {
        // per-subtree generated-source sizes — janino compile time scales
        // with these, and a runaway expression shows up as a huge subtree.
        // (AQE hides WholeStageCodegen subtrees until execution, so disable
        // it for this diagnostic pass.)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val df2 = fn(spark, sfDir)
        val s = org.apache.spark.sql.execution.debug.codegenString(df2.queryExecution.executedPlan)
        s.split("== Subtree ").drop(1).foreach { sub =>
          val head = sub.linesIterator.take(3).mkString(" | ")
          println(f"[codegen] ${sub.length}%8d chars  $head")
        }
      }
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[explain] $name run $i in ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }.foreach(throw _)
    spark.stop()
  }
}
