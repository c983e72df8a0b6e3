package graft
import org.apache.spark.sql.SparkSession
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
    // fail fast on misspelled filter names — a silent empty run looks
    // identical to a successful one in a dev loop
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(s"[verify] unknown query names: ${unknown.mkString(",")}")
        sys.exit(2)
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // same input-size-derived shuffle sizing as Bench (SparkEntry
      // .scaledShufflePartitions) so the correctness surface runs the
      // exact configuration the bench measures
      .config("spark.sql.shuffle.partitions",
        SparkEntry.scaledShufflePartitions(sfDir, cpus.toInt).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", SparkEntry.codegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = Seq.newBuilder[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // clear BEFORE running: mode("overwrite") only deletes once the
        // write executes, which an analysis-time failure never reaches
        queries.StagingRoots.deleteRecursively(Paths.get(s"$outDir/$name"))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case scala.util.control.NonFatal(e) =>
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
