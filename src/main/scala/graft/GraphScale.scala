package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Component-algorithm scaling rehearsal (dev tool): times the two
  * connected-components loops — q61's min-label propagation with pointer
  * jump (`operators/PropagationComponents`) and q87's large-star/small-star
  * contraction (`operators/StarComponents`) — on adversarial synthetic
  * graphs far larger than any fixture's verified-pair set: a million-node
  * CHAIN (worst case for plain propagation, the shape a drifting page's
  * crawl snapshots produce), clique clusters (the common near-dup case),
  * and a sparse random graph. The two censuses must agree before a timing
  * is reported. SCALE.md records the curves.
  *
  * The graphs are generated in the session, so the rehearsal reads no
  * files and its shuffle width is the session's floor
  * ([[SparkEntry.scaledShufflePartitions]] of no input).
  *
  * Usage: runMain graft.GraphScale [nChain] [nCliques] [nRandEdges]
  */
object GraphScale {

  /** One graph's census and the seconds each algorithm took. */
  final case class Result(graph: String, components: Long, nodes: Long,
      starS: Double, propagationS: Double, propagationRounds: Int) {
    def json: String =
      f"""{"graph":"$graph","components":$components,"nodes":$nodes,"star_s":$starS%.1f,"propagation_s":$propagationS%.1f,"propagation_rounds":$propagationRounds}"""
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (components, nodes) of a (node, label) frame. */
  private def census(labels: DataFrame): (Long, Long) = {
    val r = labels.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), sum(col("n"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Both algorithms over one edge frame (d1, d2). */
  private def measure(name: String, edges: DataFrame): Result = {
    val e = edges.toDF("d1", "d2").localCheckpoint()
    val (star, starS) = time(census(graft.operators.StarComponents.labels(e)))
    val ((prop, rounds), propS) = time {
      val (labels, rounds) = graft.operators.PropagationComponents.labels(e)
      (census(labels), rounds)
    }
    require(star == prop, s"$name census mismatch: star=$star propagation=$prop")
    Result(name, star._1, star._2, starS, propS, rounds)
  }

  def run(spark: SparkSession, nChain: Int, nCliques: Int, nRandEdges: Int): Seq[Result] = {
    import spark.implicits._
    // chain: diameter = nChain — propagation's worst case
    val chain = spark.range(0L, nChain - 1L).select(
      col("id").as("d1"), (col("id") + 1).as("d2"))
    // clique clusters of 10 — the common near-dup shape
    val cliques = spark.range(0L, nCliques.toLong).as[Long].flatMap { c =>
      val base = c * 10
      for (a <- 0 until 10; b <- (a + 1) until 10)
        yield (base + a, base + b)
    }.toDF("d1", "d2")
    // sparse random graph (deterministic hash edges)
    val nNodes = nRandEdges / 2
    val random = spark.range(0L, nRandEdges.toLong).select(
      pmod(xxhash64(col("id")), lit(nNodes.toLong)).as("d1"),
      pmod(xxhash64(col("id") + 7777777L), lit(nNodes.toLong)).as("d2"))
      .filter(col("d1") =!= col("d2"))
    Seq("chain" -> chain, "cliques" -> cliques, "random" -> random).map {
      case (name, edges) =>
        val r = measure(name, edges)
        println(r.json)
        r
    }
  }

  def main(args: Array[String]): Unit = {
    val nChain = args.lift(0).map(_.toInt).getOrElse(1000000)
    val nCliques = args.lift(1).map(_.toInt).getOrElse(50000)
    val nRandEdges = args.lift(2).map(_.toInt).getOrElse(2000000)
    val spark = SparkEntry.session("", SparkEntry.cpus)
    try run(spark, nChain, nCliques, nRandEdges)
    finally spark.stop()
  }
}
