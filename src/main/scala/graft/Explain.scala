package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan (and optionally run) a named
  * SparkEntry query — the `.explain("formatted")` iteration loop from the
  * README's scale checklist, without editing Bench. Usage:
  *   runMain graft.Explain <queryName> [sfDir] [run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query> [sfDir] [run]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; have: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      // match Bench's input-size-derived shuffle sizing so plans and
      // stage profiles reflect the shipped configuration (same
      // SPARK_GRAFT_SHUFFLE dev override as Bench, for plan A/Bs)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
          SparkEntry.scaledShufflePartitions(sfDir, cpus.toInt).toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", SparkEntry.codegenCacheEntries)
    // SPARK_GRAFT_EVENTLOG=/dir enables the event log for stage-level
    // profiling (parse SparkListenerStageCompleted for durations)
    val spark = sys.env.get("SPARK_GRAFT_EVENTLOG").fold(builder) { dir =>
      new java.io.File(dir).mkdirs()
      builder.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tc = System.nanoTime()
    val df = fn(spark, sfDir)
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
    val reps = args.lift(2) match {
      case Some("run") => 1
      case Some("run2") => 2 // second run isolates codegen/compile cost
      case _ => 0
    }
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name run $i in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
