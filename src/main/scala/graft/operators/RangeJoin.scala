package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucketed point-in-interval (range) join — "which interval contains this
  * point" at scale. The naive formulation (`p JOIN iv ON p.k = iv.k AND
  * p.t BETWEEN iv.s AND iv.e`) plans as an equi-join on the key with the
  * band condition as a post-filter, which is fine per key but degenerates
  * to a per-key cross product when keys are coarse (or absent); the
  * classic fix, used by every interval-join engine, is to make the time
  * axis part of the equi key (q107's interval attribution runs on it; the
  * signals×bars forward arrays need no join at all, see
  * EventBars.signalForwardArrays):
  *
  *  - points get ONE bucket `⌊t/B⌋`;
  *  - each interval explodes to the buckets it spans (⌈len/B⌉+1 rows —
  *    choose B near the typical interval length so the multiplier is
  *    small);
  *  - the join is then pure equi on (keys…, bucket), with the band
  *    predicate as a cheap residual filter, and each qualifying
  *    (point, interval) pair appears EXACTLY once (a point lives in one
  *    bucket).
  *
  * Shuffle carries (keys, bucket) — co-partitioned, AQE-splittable, no
  * window serialization; a hot key spreads over its buckets by
  * construction, so the skew story is strictly better than a key-only
  * join. Returns the INNER matches: every point column plus each
  * non-key interval column as `prefix+name`; callers needing left-outer
  * attribution re-attach on the point's unique key (q107 does).
  */
object RangeJoin {

  /** Negative-safe floor division to a bucket index (shared with
    * AsofJoin.joinTwoPhase): the double division is exact while
    * |t| < 2⁵³ — five decades of headroom over µs-since-epoch. */
  private[operators] def floorDiv(t: Column, b: Long): Column =
    ((t - pmod(t, lit(b))) / b).cast("long")

  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      keys: Seq[String],
      pointCol: String,
      startCol: String,
      endCol: String,
      bucketUs: Long,
      prefix: String = "iv_",
      maxBucketsPerInterval: Long = 1L << 20): DataFrame = {
    require(keys.nonEmpty, "range join requires at least one equi-key")
    require(bucketUs > 0, s"bucketUs=$bucketUs (must be positive)")
    require(!points.columns.contains("__b"),
      "points must not carry the internal __b column")
    val ivPayload = intervals.columns.filterNot(keys.contains)
    val startB = floorDiv(col("__ivp").getField(startCol), bucketUs)
    val endB = floorDiv(col("__ivp").getField(endCol), bucketUs)
    // fail FAST on an absurd span instead of letting one row allocate a
    // multi-GB sequence array and OOM the executor: an open-ended
    // sentinel end (Long.MaxValue "still open") at a 6h bucket would
    // otherwise try to build a ~4×10⁸-element array for that single row
    // (r13 review). The guard rides the sequence bound itself so column
    // pruning cannot drop it; the multiplier contract is ⌈len/B⌉+1 ≈
    // small — a span over the cap means a sentinel leaked in or bucketUs
    // is mis-chosen, both caller bugs worth a diagnostic.
    val endBGuarded = when(endB - startB < lit(maxBucketsPerInterval), endB)
      .otherwise(raise_error(concat(
        lit(s"range-join interval spans more than $maxBucketsPerInterval " +
          s"buckets of $bucketUs µs (span "),
        (endB - startB + 1).cast("string"),
        lit("): clamp open-ended sentinel ends or raise bucketUs"))))
    val iv = intervals.select(
      keys.map(c => col(c).as(s"__k_$c")) :+
        struct(ivPayload.map(col): _*).as("__ivp"): _*)
      .withColumn("__b", explode(sequence(startB, endBGuarded)))
    val pts = points.withColumn("__b", floorDiv(col(pointCol), bucketUs))
    val joinCond = keys.map(c => pts(c) === iv(s"__k_$c")).reduce(_ && _) &&
      pts("__b") === iv("__b") &&
      pts(pointCol) >= iv("__ivp").getField(startCol) &&
      pts(pointCol) <= iv("__ivp").getField(endCol)
    pts.join(iv, joinCond)
      .select(points.columns.map(pts(_)) ++
        ivPayload.map(c => iv("__ivp").getField(c).as(prefix + c)): _*)
  }
}
