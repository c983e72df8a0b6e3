package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gate-integrity contract (r13 review): a query that THROWS must never
  * read as green. Two holes are closed explicitly —
  *  - each query's dump dir is DELETED before the query runs, so a
  *    failure cannot leave a previous run's parquet behind for the
  *    compare to validate as a current pass (the stale-output false
  *    PASS in a reused outDir);
  *  - every failure is recorded in `<outDir>/failures.json`, which
  *    tools/compare.py reads and reports as FAIL rows — previously a
  *    crashed query's missing dump was indistinguishable from a
  *    filtered dev run and counted as a silent skip.
  * Fatal JVM errors (OutOfMemoryError etc.) are NOT caught: a corrupted
  * JVM must abort the run, not keep writing subtly wrong dumps.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-loop extra: an optional comma-separated query-name filter (the
    // driver always passes exactly two args, so this never changes its run)
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val selected = SparkEntry.selectOrExit(only)
    val spark = SparkEntry.session(sfDir, SparkEntry.cpus)
    new java.io.File(outDir).mkdirs()
    val failures = Seq.newBuilder[(String, String)]
    selected.foreach { case (name, fn) =>
      // clear BEFORE running: mode("overwrite") only deletes once the
      // write executes, which an analysis-time failure never reaches
      queries.StagingRoots.deleteRecursively(Paths.get(s"$outDir/$name"))
      SparkEntry.run(spark, name, fn, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      ).foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += ((name, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    import JsonOut.jstr
    val failJson = failures.result()
      .map { case (k, v) => s"${jstr(k)}: ${JsonOut.jerr(v, 500)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // alternate terminating oracle forms + their iterative prerequisites
    // (tools/compare.py's large-SF path; the driver ignores this file)
    val prereq = SparkEntry.oraclePrereq
      .map { case (name, spec) =>
        s"${jstr(name)}: ${spec.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
          .mkString("{", ",", "}")}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_prereq.json"), prereq)
    spark.stop()
  }
}
