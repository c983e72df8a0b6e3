package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.{CellArgminKernel, CentroidKernel}

/** Property-fuzz for the k-means assignment kernels at the unit level:
  * random integer-valued vectors and centroid tables (including planted
  * exact ties, duplicate centroids, and extreme micro-unit magnitudes)
  * checked against a naive brute force that computes every distance in
  * BigInt — so even the kernels' Long-overflow headroom is independently
  * verified, not assumed. The early-termination pruning (`d < bestD`
  * inside the dim loop) must never change the result.
  */
class SemDedupKernelFuzzSpec extends GraftSuite {

  private def bruteArgmin(v: Array[Long], cents: Array[Array[Long]]): Int =
    SemDedupKernelFuzzSpec.bruteArgmin(v.toSeq, cents.map(_.toSeq).toSeq)

  private def toArrayData(v: Array[Long]): GenericArrayData =
    new GenericArrayData(v.map(_.toDouble))

  test("CentroidArgmin == BigInt brute force over 300 random tables " +
    "(ties, duplicate centroids, extreme magnitudes)") {
    val rnd = new scala.util.Random(77L)
    (0 until 300).foreach { trial =>
      val dim = 1 + rnd.nextInt(64)
      val k = 1 + rnd.nextInt(40)
      val mag = Seq(10L, 1000000L, 6000000L)(rnd.nextInt(3))
      def vec(): Array[Long] =
        Array.fill(dim)((rnd.nextLong() % mag) * (if (rnd.nextBoolean()) 1 else -1))
      val cents = Array.fill(k)(vec())
      // plant duplicates (exact ties) in ~half the trials
      if (k > 2 && rnd.nextBoolean()) cents(k - 1) = cents(rnd.nextInt(k - 1)).clone()
      val v = if (rnd.nextInt(4) == 0) cents(rnd.nextInt(k)).clone() else vec()
      val got = CentroidKernel.argmin(toArrayData(v), cents)
      val want = bruteArgmin(v, cents)
      assert(got == want, s"trial $trial dim=$dim k=$k mag=$mag: $got != $want")
    }
  }

  test("CellArgmin == brute force over the routed subset, " +
    "including single-member and dense cells") {
    val rnd = new scala.util.Random(78L)
    (0 until 300).foreach { trial =>
      val dim = 1 + rnd.nextInt(64)
      val k = 2 + rnd.nextInt(40)
      val k1 = 1 + rnd.nextInt(6)
      def vec(): Array[Long] = Array.fill(dim)(rnd.nextLong() % 1000000L)
      val fine = Array.fill(k)(vec())
      if (k > 2 && rnd.nextBoolean()) fine(k - 1) = fine(rnd.nextInt(k - 1)).clone()
      // random routing (cells may be empty — the kernel is only ever
      // called on a cell that HAS members, per the non-empty contract)
      val f2c = fine.map(_ => rnd.nextInt(k1))
      val nonEmpty = (0 until k1).filter(cc => f2c.contains(cc))
      val route = nonEmpty(rnd.nextInt(nonEmpty.size))
      // the joined row's cell table: cid-ascending, as the packed frame
      val subset = fine.indices.filter(f2c(_) == route).toArray
      val v = vec()
      val got = CellArgminKernel.argmin(toArrayData(v),
        new GenericArrayData(subset.toSeq.map(c => new GenericArrayData(fine(c)))),
        new GenericArrayData(subset))
      val want = subset(bruteArgmin(v, subset.map(fine(_))))
      assert(got == want, s"trial $trial dim=$dim k=$k k1=$k1 route=$route: $got != $want")
    }
  }
}

/** Plain-Scala references for the k-means assignment kernels, every
  * distance in BigInt. */
object SemDedupKernelFuzzSpec {
  /** Index of the nearest of `cents` to `v`; ties to the smaller index. */
  def bruteArgmin(v: Seq[Long], cents: Seq[Seq[Long]]): Int = {
    var best = -1
    var bd: BigInt = null
    cents.indices.foreach { c =>
      var d = BigInt(0)
      v.indices.foreach { i =>
        val diff = BigInt(v(i)) - BigInt(cents(c)(i)); d += diff * diff
      }
      if (bd == null || d < bd) { bd = d; best = c } // strict <: smaller cid on ties
    }
    best
  }

  /** The routed assignment of `v`: the nearest non-empty coarse cell
    * (`coarse` holds the first k₁ fine centroids, `f2c` each fine
    * centroid's coarse cell), then the nearest fine centroid inside it —
    * ties to the smaller ccid, then the smaller cid. */
  def routedArgmin(v: Seq[Long], fine: Seq[Seq[Long]], coarse: Seq[Seq[Long]],
      f2c: Seq[Int]): Int = {
    val nonEmpty = f2c.distinct.sorted
    val route = nonEmpty(bruteArgmin(v, nonEmpty.map(coarse(_))))
    val cell = fine.indices.filter(f2c(_) == route)
    cell(bruteArgmin(v, cell.map(fine(_))))
  }
}
