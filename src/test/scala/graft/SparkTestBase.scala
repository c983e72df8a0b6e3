package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the job description ("" for none) of every Spark
    * job it started, in start order. The jobs are collected between two
    * marker jobs; the listener bus delivers job starts in order, so once
    * the closing marker is seen every job `body` started has been seen
    * too. */
  def jobDescriptionsDuring[A](body: => A): (A, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    val tag = s"jobs-during-${System.nanoTime()}"
    def mark(m: String): Unit = {
      sc.setJobDescription(m)
      try spark.range(1).collect() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      mark(s"$tag-open")
      val out = body
      mark(s"$tag-close")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(s"$tag-close") && System.nanoTime() < deadline) Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      val all = seen.asScala.toSeq
      assert(all.contains(s"$tag-open") && all.contains(s"$tag-close"), all)
      val between = all.dropWhile(_ != s"$tag-open").drop(1).takeWhile(_ != s"$tag-close")
      (out, between.filterNot(_.startsWith(tag)))
    } finally sc.removeSparkListener(l)
  }
}
