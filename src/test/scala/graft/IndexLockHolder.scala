package graft

/** Holds an index's mutation lock from its own JVM, for the cross-process
  * lock tests in SemDedupStagedSpec. Prints HELD once the lock is taken,
  * sleeps `ms` milliseconds, then prints RELEASED. No Spark session: the
  * lock is plain java.nio, so a test can SIGKILL this process mid-hold and
  * check that the OS releases the lock.
  *
  * Usage: java -cp <test classpath> graft.IndexLockHolder <indexDir> [ms]
  */
object IndexLockHolder {
  def main(args: Array[String]): Unit = {
    val ms = args.lift(1).map(_.toLong).getOrElse(60000L)
    queries.SimilarityQueries.withIndexLock(args(0)) {
      println("HELD")
      System.out.flush()
      Thread.sleep(ms)
    }
    println("RELEASED")
  }
}
