package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.sources.ResultSink

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * cosine near-duplicate census, brute-force cosine top-k (the exact
  * baseline), and sign-random-projection LSH ANN (the scale path).
  *
  * Numeric determinism across engines: float→double casts are exact; every
  * dot product is a *sequential left fold* on both sides (Spark `aggregate`
  * ≡ DuckDB `list_reduce`), so the doubles are bit-identical and rounded
  * comparisons cannot flip.
  *
  * Scale design: the query side of every join is tiny (a handful of probe
  * vectors, or an 8-bit bucket id) and broadcast; the corpus side stays
  * partitioned and is read once. Brute force is O(Q·N) — fine for small Q;
  * the LSH variant bounds candidate sets by bucket, which is the shape that
  * survives 100 TB (signatures are a projection, the join shuffles bucket
  * ids, not vectors).
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Sequential-fold dot product — the codegen'd DotFold kernel,
    * bit-identical to the interpreted
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)` form
    * (same left-fold order; float elements promote exactly). */
  private def dot(a: String, b: String): Column =
    graft.functions.GraftFunctions.dotFold(col(a), col(b))

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  // `e` stays the RAW float array: DotFold promotes per element, so no
  // doubled copy of the corpus is materialized, halving every join /
  // broadcast payload in this file. Values are unchanged (float→double
  // promotion is exact).
  private def withNorm(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .withColumn("e", col("embedding"))
      .withColumn("nrm", sqrt(dot("e", "e")))

  private val withNormSql: String =
    s"""SELECT vec_id, label,
      |    list_transform(embedding, x -> x::DOUBLE) AS e,
      |    sqrt(${dotSql("list_transform(embedding, x -> x::DOUBLE)",
      "list_transform(embedding, x -> x::DOUBLE)")}) AS nrm
      |  FROM embeddings""".stripMargin

  // ---------------------------------------------------------------------------
  // q28 — embedding-cosine near-duplicate census, blocked by label: for each
  // label, pair counts at cosine ≥ 0.8 / ≥ 0.9 plus distribution stats.
  // Cosines are rounded to 1e-6 before thresholding so the comparison is a
  // grid equality, not a raw-double one.
  // Pair-stage parallelism is explicit (same salt pattern as q25): with a
  // handful of labels and a one-split scan, the planner's broadcast join
  // would otherwise run the whole O(B²) stage on one task.
  private val PairSalt = 8

  def q28EmbeddingNeardup(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, d)
    val a = v.select(col("label"), col("vec_id").as("id1"), col("e").as("e1"), col("nrm").as("n1"))
      .withColumn("salt", pmod(col("id1"), lit(PairSalt)))
      .repartition(col("label"), col("salt"))
    val b = v.select(col("label").as("label_b"), col("vec_id").as("id2"),
      col("e").as("e2"), col("nrm").as("n2"))
      .withColumn("salt_b", explode(array((0 until PairSalt).map(lit): _*)))
    a.join(b, col("label") === col("label_b") && col("salt") === col("salt_b") &&
        col("id1") < col("id2"))
      // P4 nullIf guard: a zero vector zeroes the norm product (ANSI-safe)
      .withColumn("cos", round(dot("e1", "e2") / nullif(col("n1") * col("n2"), lit(0.0)), 6))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count_if(col("cos") >= 0.8).as("n_ge_080"),
        count_if(col("cos") >= 0.9).as("n_ge_090"),
        // + 0.0 normalizes negative zero: a ±1e-8 average rounds to -0.0
        // in one engine and +0.0 in the other (seen at sf0.1 label 8)
        (round(avg(col("cos")), 4) + 0.0).as("avg_cos"),
        (round(max(col("cos")), 4) + 0.0).as("max_cos"))
      .orderBy(col("label"))
  }

  val q28Sql: String =
    s"""WITH v AS (
      |  $withNormSql),
      |p AS (
      |  SELECT a.label, round(${dotSql("a.e", "b.e")} / nullif(a.nrm * b.nrm, 0.0), 6) AS cos
      |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT label, count(*) AS n_pairs,
      |  count(*) FILTER (WHERE cos >= 0.8) AS n_ge_080,
      |  count(*) FILTER (WHERE cos >= 0.9) AS n_ge_090,
      |  round(avg(cos), 4) + 0.0 AS avg_cos,
      |  round(max(cos), 4) + 0.0 AS max_cos
      |FROM p GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------------
  // q29 — brute-force cosine top-k: probe vectors (vec_id < 8) against the
  // whole corpus, top-5 each. The probe side is broadcast; the corpus scan
  // parallelizes per partition; the per-probe top-k is a tiny window.
  def q29AnnTopk(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, d)
    val probes = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_vec_id"), col("e").as("qe"), col("nrm").as("qn"))
    val cand = broadcast(probes).join(v, col("vec_id") =!= col("q_vec_id"))
      .withColumn("cos", round(dot("qe", "e") / nullif(col("qn") * col("nrm"), lit(0.0)), 6))
    val w = Window.partitionBy(col("q_vec_id")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_vec_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  val q29Sql: String =
    s"""WITH v AS (
      |  $withNormSql),
      |c AS (
      |  SELECT q.vec_id AS q_vec_id, v.vec_id AS neighbor_id,
      |    round(${dotSql("q.e", "v.e")} / nullif(q.nrm * v.nrm, 0.0), 6) AS cos
      |  FROM v q JOIN v ON q.vec_id < 8 AND v.vec_id <> q.vec_id),
      |r AS (
      |  SELECT q_vec_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY q_vec_id
      |                       ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM c)
      |SELECT q_vec_id, rnk, neighbor_id, round(cos, 4) AS cos_sim
      |FROM r WHERE rnk <= 5 ORDER BY q_vec_id, rnk""".stripMargin

  // ---------------------------------------------------------------------------
  // q30 — LSH ANN via sign random projection: 8 deterministic pseudo-random
  // hyperplanes (LCG-generated coefficients) → 8-bit bucket per vector;
  // probes search only their own bucket. Emits per-probe candidate count +
  // best in-bucket neighbor (−1 / −2.0 when the bucket has no candidates).
  // The bucketing is the 100 TB path: one projection pass + an equi-join on
  // an 8-bit key instead of a full cross product.
  //
  // The hyperplane matrix is a COMPILE-TIME constant, so it is baked into
  // the plan as literals and each lane's dot product is an explicit
  // 64-term sum of GetArrayItem×literal — plain codegen'd arithmetic.
  // (The previous shape re-derived the LCG coefficients inside nested
  // interpreted higher-order functions for every row — HOF lambdas skip
  // whole-stage codegen, the q26/q27 lesson.) Term order is the same
  // sequential left fold, so doubles are bit-identical to the HOF form
  // and to the DuckDB oracle.
  private val lshPlanes: Seq[Seq[Double]] =
    (0 until 8).map(j => (0 until 64).map(dd =>
      ((1103515245L * (j * 64 + dd) + 12345L) % 2001L - 1000L) / 1000.0))

  // The compact SrpBucket kernel replaced an 8×64-term literal-unrolled
  // expression here: same left-fold arithmetic (GraftFunctionsSpec pins
  // bucket equality against the unrolled form below), but constant-size
  // generated code instead of >1.5 MB task binaries re-compiled per stage.
  private[graft] def bucketExpr(e: String): Column =
    graft.functions.GraftFunctions.srpBucket(col(e), lshPlanes)

  /** The literal-unrolled twin of [[bucketExpr]] — kept as the spec's
    * reference implementation of the bucket arithmetic. */
  private[graft] def bucketExprUnrolled(e: String): Column =
    lshPlanes.zipWithIndex.map { case (plane, j) =>
      val dotJ = plane.zipWithIndex.map { case (c, dd) =>
        col(e).getItem(dd) * lit(c)
      }.reduce(_ + _)
      when(dotJ >= 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def bucketSql(e: String): String =
    s"""CAST(list_sum(list_transform(range(0, 8), j -> CASE WHEN
      |  list_reduce(list_transform(range(0, 64), dd ->
      |    $e[dd + 1] *
      |    (((CAST(1103515245 AS BIGINT) * (j*64 + dd) + 12345) % 2001 - 1000) / 1000.0)),
      |    (x, y) -> x + y) >= 0
      |  THEN CAST(pow(2, j) AS INT) ELSE 0 END)) AS INT)""".stripMargin

  def q30AnnLsh(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, d).withColumn("bucket", bucketExpr("e"))
    val probes = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_vec_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("bucket").as("qb"))
    // INNER broadcast join (a left-outer can't build its preserved side, so
    // the hint would be dropped and the corpus shuffled at scale); probes
    // whose bucket is empty are re-attached by the tiny-to-tiny left join
    // below with the documented defaults.
    val cand = broadcast(probes)
      .join(v, col("bucket") === col("qb") && col("vec_id") =!= col("q_vec_id"))
      .withColumn("cos", round(dot("qe", "e") / nullif(col("qn") * col("nrm"), lit(0.0)), 6))
    val perProbe = cand.groupBy(col("q_vec_id"))
      .agg(
        count(col("vec_id")).as("nc"),
        max_by(col("vec_id"), struct(col("cos"), -col("vec_id"))).as("t1"),
        round(max(col("cos")), 4).as("tc"))
    probes.select(col("q_vec_id"))
      .join(broadcast(perProbe), Seq("q_vec_id"), "left")
      .select(col("q_vec_id"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"),
        coalesce(col("t1"), lit(-1L)).as("top1_id"),
        coalesce(col("tc"), lit(-2.0)).as("top1_cos"))
      .orderBy(col("q_vec_id"))
  }

  val q30Sql: String =
    s"""WITH v AS (
      |  SELECT vec_id, e, nrm, ${bucketSql("e")} AS bucket
      |  FROM ($withNormSql)),
      |c AS (
      |  SELECT q.vec_id AS q_vec_id, v.vec_id AS cand_id,
      |    round(${dotSql("q.e", "v.e")} / nullif(q.nrm * v.nrm, 0.0), 6) AS cos
      |  FROM (SELECT * FROM v WHERE vec_id < 8) q
      |  LEFT JOIN v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id),
      |r AS (
      |  SELECT q_vec_id, cand_id, cos,
      |    row_number() OVER (PARTITION BY q_vec_id
      |                       ORDER BY cos DESC, cand_id) AS rnk
      |  FROM c)
      |SELECT q_vec_id, count(cand_id) AS n_candidates,
      |  coalesce(max(CASE WHEN rnk = 1 THEN cand_id END), -1) AS top1_id,
      |  round(coalesce(max(cos), -2.0), 4) AS top1_cos
      |FROM r GROUP BY q_vec_id ORDER BY q_vec_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q48 — IVF-style ANN: a deterministic coarse quantizer (8 fixed centroid
  // vectors drawn from the corpus), inverted-list assignment, and an
  // nProbe=2 search that reads only the probed cells. This is the second
  // scale path next to q30's LSH: build cost is one O(N·K) broadcast pass
  // (the corpus is never shuffled — only (vec_id → cell) moves), and the
  // search fan-in is bounded by the probed inverted lists, not N. A real
  // deployment would train centroids with k-means; the fixed-seed
  // quantizer keeps the structure identical and the oracle exact.
  private val centroidIds = Seq(100L, 150L, 200L, 250L, 300L, 350L, 400L, 450L)
  private val nProbe = 2

  def q48AnnIvf(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, d)
    val cents = v.filter(col("vec_id").isInCollection(centroidIds))
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    def cellRank(idCol: String) = Window.partitionBy(col(idCol))
      .orderBy(col("ccos").desc, col("cid"))
    // build: nearest centroid per vector (rounded cosine, centroid-id ties)
    val assigned = v.crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(dot("e", "ce") / nullif(col("nrm") * col("cn"), lit(0.0)), 6))
      .withColumn("crnk", row_number().over(cellRank("vec_id")))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cid").as("cell"))
    // search: each probe reads its nProbe nearest inverted lists
    val pcells = v.filter(col("vec_id") < 8)
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(dot("e", "ce") / nullif(col("nrm") * col("cn"), lit(0.0)), 6))
      .withColumn("crnk", row_number().over(cellRank("vec_id")))
      .filter(col("crnk") <= nProbe)
      .select(col("vec_id").as("q_vec_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cid").as("qcell"))
    // same inner-join + re-attach shape as q30: the broadcast survives and
    // the inverted lists are never shuffled
    val cand = broadcast(pcells)
      .join(assigned, col("cell") === col("qcell") && col("vec_id") =!= col("q_vec_id"))
      .withColumn("cos", round(dot("qe", "e") / nullif(col("qn") * col("nrm"), lit(0.0)), 6))
    val perProbe = cand.groupBy(col("q_vec_id"))
      .agg(
        count(col("vec_id")).as("nc"),
        max_by(col("vec_id"), struct(col("cos"), -col("vec_id"))).as("t1"),
        round(max(col("cos")), 4).as("tc"))
    pcells.select(col("q_vec_id")).distinct()
      .join(broadcast(perProbe), Seq("q_vec_id"), "left")
      .select(col("q_vec_id"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"),
        coalesce(col("t1"), lit(-1L)).as("top1_id"),
        coalesce(col("tc"), lit(-2.0)).as("top1_cos"))
      .orderBy(col("q_vec_id"))
  }

  val q48Sql: String = {
    val cids = centroidIds.mkString(", ")
    s"""WITH v AS (
      |  $withNormSql),
      |cents AS (
      |  SELECT vec_id AS cid, e AS ce, nrm AS cn FROM v WHERE vec_id IN ($cids)),
      |assigned AS (
      |  SELECT vec_id, e, nrm, cid AS cell FROM (
      |    SELECT v.vec_id, v.e, v.nrm, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        round(${dotSql("v.e", "c.ce")} / nullif(v.nrm * c.cn, 0.0), 6) DESC,
      |        c.cid) AS crnk
      |    FROM v CROSS JOIN cents c)
      |  WHERE crnk = 1),
      |pcells AS (
      |  SELECT vec_id AS q_vec_id, e AS qe, nrm AS qn, cid AS qcell FROM (
      |    SELECT v.vec_id, v.e, v.nrm, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        round(${dotSql("v.e", "c.ce")} / nullif(v.nrm * c.cn, 0.0), 6) DESC,
      |        c.cid) AS crnk
      |    FROM v CROSS JOIN cents c WHERE v.vec_id < 8)
      |  WHERE crnk <= $nProbe),
      |c AS (
      |  SELECT p.q_vec_id, a.vec_id AS cand_id,
      |    round(${dotSql("p.qe", "a.e")} / nullif(p.qn * a.nrm, 0.0), 6) AS cos
      |  FROM pcells p
      |  LEFT JOIN assigned a ON a.cell = p.qcell AND a.vec_id <> p.q_vec_id),
      |r AS (
      |  SELECT q_vec_id, cand_id, cos,
      |    row_number() OVER (PARTITION BY q_vec_id
      |                       ORDER BY cos DESC, cand_id) AS rnk
      |  FROM c)
      |SELECT q_vec_id, count(cand_id) AS n_candidates,
      |  coalesce(max(CASE WHEN rnk = 1 THEN cand_id END), -1) AS top1_id,
      |  round(coalesce(max(cos), -2.0), 4) AS top1_cos
      |FROM r GROUP BY q_vec_id ORDER BY q_vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q63 — SemDeDup-style semantic dedup: deterministic k-means over the
  // embeddings (2 Lloyd rounds), then a within-cluster cosine near-dup
  // census — "cluster the corpus, drop near-copies inside each cluster".
  //
  // Cross-engine exactness WITHOUT sequential-fold coupling: k-means runs
  // in INTEGER MICRO-UNITS (x → round(x·10⁶) as long). Squared distances,
  // seed dot products, and per-dimension centroid sums are then integer
  // values ≤ ~6·10¹⁵ < 2⁵³, so every double that carries them is exact and
  // ANY summation order gives bit-identical results in both engines; the
  // only rounding is the centroid update round(sum/count) — half away from
  // zero on both sides (BigDecimal HALF_UP ≡ DuckDB round). Ties in the
  // argmin break on cluster id, an integer compare.
  //
  // Scale shape: assignment is MAP-ONLY (centroids are a collected K×64
  // bounded literal — the broadcast-centroid pattern); the update is one
  // groupBy(cid) with 64 codegen'd sum lanes and map-side combine (the
  // minhash-lane pattern); the pairwise stage is bounded per cluster and
  // salted for explicit parallelism (q25/q28 pattern). At 100 TB you add
  // rounds and K, not new shapes — and megaclusters route through the LSH
  // path (q26/q30) instead of the quadratic verifier.
  private val KClusters = 8
  private val Dim = 64

  /** The deterministic two-pass k-means of q63 (seeds = K smallest
    * (md5(vec_id), vec_id); one centroid update in exact integer
    * micro-units; argmin re-assignment) — returns the persisted assigned
    * frame (vec_id, e, nrm, mud, c1, cid). Shared by q63 (within-cluster
    * near-dup census) and q90 (cluster-balanced diversity sampling). */
  private def kmeansAssignment(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, d)
      .withColumn("mud",
        transform(col("e"), x => round(x * lit(1e6)).cast("long").cast("double")))
      .transform(StagingRoots.persist)
    // deterministic "random" seeds: the K smallest (md5(vec_id), vec_id)
    val seeds: Array[Array[Double]] = v
      .select(col("vec_id"), col("mud"))
      .withColumn("hk",
        graft.functions.GraftFunctions.md5PrefixInt(col("vec_id").cast("string")))
      .orderBy(col("hk"), col("vec_id"))
      .limit(KClusters)
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("mud").toArray)
    // map-only argmin assignment against literal centroids: squared L2 via
    // dot(m,m) − 2·dot(m,c) + dot(c,c), every term an exact integer-valued
    // double; sort_array on (dist, cid) structs breaks ties on cid
    def assign(cents: Array[Array[Double]], outCol: String)(df: DataFrame): DataFrame = {
      val mm = graft.functions.GraftFunctions.dotFold(col("mud"), col("mud"))
      val structs = cents.zipWithIndex.map { case (c, cid) =>
        val cc = c.foldLeft(0.0)((a, x) => a + x * x)
        val dist = mm - lit(2.0) *
          graft.functions.GraftFunctions.dotFold(col("mud"), typedLit(c.toSeq)) + lit(cc)
        struct(dist.as("dist"), lit(cid).as("cid"))
      }
      df.withColumn(outCol, sort_array(array(structs.toIndexedSeq: _*))(0).getField("cid"))
    }
    val a1 = assign(seeds, "c1")(v)
    // centroid update: 64 integer sum lanes + count per cluster, collected
    // (K×64 longs — bounded by construction), rounded on the driver with
    // the same half-away-from-zero rule the oracle uses
    val lanes = (0 until Dim).map(i =>
      sum(element_at(col("mud"), i + 1).cast("long")).as(s"s$i"))
    val sums = a1.groupBy(col("c1"))
      .agg(count(lit(1)).as("cnt"), lanes: _*)
      .collect()
      .map { r =>
        val cnt = r.getAs[Long]("cnt").toDouble
        r.getAs[Int]("c1") -> (0 until Dim).map { i =>
          new java.math.BigDecimal(r.getAs[Long](s"s$i") / cnt)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        }.toArray
      }.toMap
    // a cluster whose seed lost an argmin tie can be empty: keep its seed
    val cents2 = (0 until KClusters).map(c => sums.getOrElse(c, seeds(c))).toArray
    assign(cents2, "cid")(a1)
      .transform(StagingRoots.persist)
  }

  def q63SemanticDedup(spark: SparkSession, d: String): DataFrame =
    semDedupCensus(kmeansAssignment(spark, d))

  /** The within-cluster cosine near-dup census shared by q63 (fixed K=8,
    * the reference-scale oracle form) and q113 (K scaled to the corpus —
    * the production lane). Input contract: (vec_id, e, nrm, c1, cid). */
  private def semDedupCensus(a2: DataFrame): DataFrame = {
    val members = a2.groupBy(col("cid")).agg(
      count(lit(1)).as("n_members"),
      count_if(col("c1") =!= col("cid")).as("n_moved"))
    val l = a2.select(col("cid"), col("vec_id").as("id1"),
      col("e").as("e1"), col("nrm").as("n1"))
      .withColumn("salt", pmod(col("id1"), lit(PairSalt)))
      .repartition(col("cid"), col("salt"))
    val r = a2.select(col("cid").as("cid_r"), col("vec_id").as("id2"),
      col("e").as("e2"), col("nrm").as("n2"))
      .withColumn("salt_r", explode(array((0 until PairSalt).map(lit): _*)))
    val pairs = l.join(r,
      col("cid") === col("cid_r") && col("salt") === col("salt_r") &&
        col("id1") < col("id2"))
      .withColumn("cos", round(dot("e1", "e2") / nullif(col("n1") * col("n2"), lit(0.0)), 6))
      .groupBy(col("cid"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count_if(col("cos") >= 0.9).as("n_neardup_pairs"),
        countDistinct(when(col("cos") >= 0.9, col("id2"))).as("n_sem_removed"),
        (round(max(col("cos")), 4) + 0.0).as("max_cos"))
    members.join(pairs, Seq("cid"), "left")
      .select(col("cid"), col("n_members"), col("n_moved"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_neardup_pairs"), lit(0L)).as("n_neardup_pairs"),
        coalesce(col("n_sem_removed"), lit(0L)).as("n_sem_removed"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"))
      .orderBy(col("cid"))
  }

  /** CAPPED census (the q86 bucket-cap + q91 resolution discipline for
    * cells): cells ≤ cap run the full pairwise census; larger cells are
    * QUARANTINED — a dense blob of near-identical but DISTINCT vectors
    * (which exact-first cannot collapse and which any distance-based
    * clustering necessarily co-locates) would otherwise pay C(blob, 2).
    * Quarantined cells resolve through O(members) member-vs-rep
    * verification (rep = the cell's smallest vec_id): `n_pairs` counts
    * the verifications actually run, `n_sem_removed` the members whose
    * cos-to-rep clears the threshold (a LOWER bound of full-census
    * removal — the q91 honesty contract, flagged by `quarantined`). */
  private def semDedupCensusCapped(a2: DataFrame, cap: Int): DataFrame = {
    val members = a2.groupBy(col("cid")).agg(
      count(lit(1)).as("n_members"),
      count_if(col("c1") =!= col("cid")).as("n_moved"))
    // ONE broadcast of the per-cell size table routes every member into
    // its lane (r17): the previous shape built two separate cell-list
    // broadcasts (small, big) plus a members⋈smallCells join — three
    // broadcast rounds of stage-materialization latency for the same
    // row-routing decision. Lane filters on the attached n_members are
    // row-identical to the old cell-list semi-joins.
    val aj = a2.join(
      broadcast(members.select(col("cid"), col("n_members"))), "cid")
    val aSmall = aj.filter(col("n_members") <= cap).drop("n_members")
    val l = aSmall.select(col("cid"), col("vec_id").as("id1"),
      col("e").as("e1"), col("nrm").as("n1"))
      .withColumn("salt", pmod(col("id1"), lit(PairSalt)))
      .repartition(col("cid"), col("salt"))
    val r = aSmall.select(col("cid").as("cid_r"), col("vec_id").as("id2"),
      col("e").as("e2"), col("nrm").as("n2"))
      .withColumn("salt_r", explode(array((0 until PairSalt).map(lit): _*)))
    val pairs = l.join(r,
      col("cid") === col("cid_r") && col("salt") === col("salt_r") &&
        col("id1") < col("id2"))
      .withColumn("cos", round(dot("e1", "e2") / nullif(col("n1") * col("n2"), lit(0.0)), 6))
      .groupBy(col("cid"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count_if(col("cos") >= 0.9).as("n_neardup_pairs"),
        countDistinct(when(col("cos") >= 0.9, col("id2"))).as("n_sem_removed"),
        (round(max(col("cos")), 4) + 0.0).as("max_cos"))
    // quarantined cells: ONE rep per cell (smallest vec_id), broadcast
    // with its vector; every other member verifies against it — O(members).
    // (min_by(e, vec_id) would fold the rep pick and its vector fetch into
    // one aggregate, but an array-typed aggregation buffer plans as
    // SortAggregate — a full sort of every quarantined member at scale,
    // the exact shape the q113 plan pin exists to forbid. The primitive
    // min + broadcast join-back keeps the agg hash-based.)
    val aBig = aj.filter(col("n_members") > cap).drop("n_members")
    val reps = aBig.groupBy(col("cid")).agg(min(col("vec_id")).as("rep_id"))
      .withColumnRenamed("cid", "cid_q")
    val repVec = aBig
      .join(broadcast(reps),
        aBig("cid") === col("cid_q") && aBig("vec_id") === col("rep_id"))
      .select(col("cid_q"), col("rep_id"), col("e").as("re"), col("nrm").as("rn2"))
    val bigVer = aBig.join(broadcast(repVec), aBig("cid") === repVec("cid_q"))
      .filter(col("vec_id") =!= col("rep_id"))
      .withColumn("cos", round(dot("e", "re") / nullif(col("nrm") * col("rn2"), lit(0.0)), 6))
      .groupBy(col("cid"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count_if(col("cos") >= 0.9).as("n_neardup_pairs"),
        count_if(col("cos") >= 0.9).as("n_sem_removed"),
        (round(max(col("cos")), 4) + 0.0).as("max_cos"))
    val small = members.filter(col("n_members") <= cap)
      .join(pairs, Seq("cid"), "left")
      .withColumn("quarantined", lit(false))
    val big = members.filter(col("n_members") > cap)
      .join(bigVer, Seq("cid"), "left")
      .withColumn("quarantined", lit(true))
    small.unionByName(big)
      .select(col("cid"), col("n_members"), col("n_moved"), col("quarantined"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_neardup_pairs"), lit(0L)).as("n_neardup_pairs"),
        coalesce(col("n_sem_removed"), lit(0L)).as("n_sem_removed"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"))
      .orderBy(col("cid"))
  }

  /** SQL twin of [[kmeansAssignment]]/[[kmeansAssignmentScaled]]: CTEs
    * `v` → `md` → `seeds` → `a1` → `sums` → `c2` → `c2f` → `a2`;
    * interpolated into the q63/q90 (K=8) and q113 (scaled-K) oracles.
    * `kSql` is any scalar SQL expression for the seed count. */
  private def kmeansCteSqlWithK(kSql: String): String = {
    val sqDist = (m: String, c: String) =>
      s"list_reduce(list_transform(range(1, ${Dim + 1}), " +
        s"i -> ($m[i] - $c[i]) * ($m[i] - $c[i])), (x, y) -> x + y)"
    s"""v AS (
      |  $withNormSql),
      |md AS (
      |  SELECT vec_id, e, nrm,
      |    list_transform(e, x -> round(x * 1000000.0)::BIGINT::DOUBLE) AS mud
      |  FROM v),
      |seeds AS (
      |  SELECT mud, rn - 1 AS cid FROM (
      |    SELECT mud, row_number() OVER (
      |      ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id) AS rn
      |    FROM md) WHERE rn <= ($kSql)),
      |a1 AS (
      |  SELECT vec_id, cid AS c1 FROM (
      |    SELECT md.vec_id, s.cid,
      |      row_number() OVER (PARTITION BY md.vec_id
      |        ORDER BY ${sqDist("md.mud", "s.mud")}, s.cid) AS rn
      |    FROM md CROSS JOIN seeds s) WHERE rn = 1),
      |sums AS (
      |  SELECT a1.c1 AS cid, t.i, sum(m2.mud[t.i])::BIGINT AS s, count(*) AS cnt
      |  FROM a1 JOIN md m2 USING (vec_id) CROSS JOIN range(1, ${Dim + 1}) t(i)
      |  GROUP BY 1, 2),
      |c2 AS (
      |  SELECT cid, list(round(s::DOUBLE / cnt)::BIGINT::DOUBLE ORDER BY i) AS cmu
      |  FROM sums GROUP BY cid),
      |c2f AS (
      |  SELECT s.cid, coalesce(c2.cmu, s.mud) AS cmu
      |  FROM seeds s LEFT JOIN c2 USING (cid)),
      |a2 AS (
      |  SELECT vec_id, c1, cid FROM (
      |    SELECT md.vec_id, a1.c1, c.cid,
      |      row_number() OVER (PARTITION BY md.vec_id
      |        ORDER BY ${sqDist("md.mud", "c.cmu")}, c.cid) AS rn
      |    FROM md JOIN a1 USING (vec_id) CROSS JOIN c2f c) WHERE rn = 1)""".stripMargin
  }

  private val kmeansCteSql: String = kmeansCteSqlWithK(KClusters.toString)

  private def semDedupSqlWith(kmeansCte: String): String =
    s"""WITH $kmeansCte,
      |members AS (
      |  SELECT cid, count(*) AS n_members,
      |    count(*) FILTER (WHERE c1 <> cid) AS n_moved
      |  FROM a2 GROUP BY cid),
      |p AS (
      |  SELECT x.cid, count(*) AS n_pairs,
      |    count(*) FILTER (WHERE cos >= 0.9) AS n_neardup_pairs,
      |    count(DISTINCT id2) FILTER (WHERE cos >= 0.9) AS n_sem_removed,
      |    round(max(cos), 4) + 0.0 AS max_cos
      |  FROM (
      |    SELECT xa.cid, xb.vec_id AS id2,
      |      round(${dotSql("xa.e", "xb.e")} / nullif(xa.nrm * xb.nrm, 0.0), 6) AS cos
      |    FROM (SELECT a2.cid, md.vec_id, md.e, md.nrm FROM a2 JOIN md USING (vec_id)) xa
      |    JOIN (SELECT a2.cid, md.vec_id, md.e, md.nrm FROM a2 JOIN md USING (vec_id)) xb
      |      ON xa.cid = xb.cid AND xa.vec_id < xb.vec_id) x
      |  GROUP BY x.cid)
      |SELECT m.cid, m.n_members, m.n_moved,
      |  coalesce(p.n_pairs, 0) AS n_pairs,
      |  coalesce(p.n_neardup_pairs, 0) AS n_neardup_pairs,
      |  coalesce(p.n_sem_removed, 0) AS n_sem_removed,
      |  coalesce(p.max_cos, 0.0) AS max_cos
      |FROM members m LEFT JOIN p USING (cid) ORDER BY m.cid""".stripMargin

  val q63Sql: String = semDedupSqlWith(kmeansCteSql)

  // ---------------------------------------------------------------------------
  // q90 — cluster-balanced DIVERSITY sampling: subsample the corpus to a
  // token/doc budget while preserving semantic coverage. Uniform sampling
  // reproduces the corpus's cluster imbalance (the dominant cluster keeps
  // dominating); the production discipline (SemDeDup-then-sample,
  // cluster-balanced data selection) allocates the budget ACROSS clusters
  // first. Here: q63's deterministic k-means cells; budget = ⌊N/4⌋ docs;
  // equal share per cell, capped by cell size (quota_c = min(n_c, ⌊B/K⌋));
  // within a cell the selection is the ⌊quota⌋ smallest (md5(vec_id),
  // vec_id) — the same deterministic "random" order the k-means seeds use,
  // so reruns and backfills select the identical set. Unfilled budget from
  // small cells is REPORTED (n_selected < quota is visible per row), not
  // silently redistributed — redistribution is a second one-row pass a
  // production run adds on the census this query emits.
  //
  // The selected SET itself is oracle-checked, not just counts: the census
  // carries the exact-integer sum and max of the selected vec_ids per cell.
  // Scale shape: assignment is the q63 map-only argmin vs broadcast
  // centroids; ranking is one window per cell; everything after is a
  // per-cell census — no pairwise stage at all.
  def q90DiversitySample(spark: SparkSession, d: String): DataFrame = {
    val a2 = kmeansAssignment(spark, d).select(col("vec_id"), col("cid"))
    val tot = a2.agg(count(lit(1)).as("n_total"))
      .withColumn("budget", floor(col("n_total") / lit(4.0)).cast("long"))
      .withColumn("share",
        floor(col("budget").cast("double") / lit(KClusters.toDouble)).cast("long"))
    val wCell = Window.partitionBy(col("cid"))
    val ranked = a2
      .withColumn("hk",
        graft.functions.GraftFunctions.md5PrefixInt(col("vec_id").cast("string")))
      .withColumn("rk", row_number().over(wCell.orderBy(col("hk"), col("vec_id"))))
      .withColumn("n_members", count(lit(1)).over(wCell))
      .crossJoin(broadcast(tot))
      .withColumn("quota", least(col("n_members"), col("share")))
      .withColumn("sel", col("rk") <= col("quota"))
    ranked.groupBy(col("cid"))
      .agg(
        any_value(col("n_members")).as("n_members"),
        any_value(col("quota")).as("quota"),
        count(when(col("sel"), 1)).as("n_selected"),
        sum(when(col("sel"), col("vec_id"))).as("sel_vecid_sum"),
        max(when(col("sel"), col("vec_id"))).as("sel_vecid_max"))
      .orderBy(col("cid"))
  }

  val q90Sql: String =
    s"""WITH $kmeansCteSql,
      |tot AS (
      |  SELECT count(*) AS n_total,
      |    CAST(floor(count(*) / 4.0) AS BIGINT) AS budget,
      |    CAST(floor(CAST(floor(count(*) / 4.0) AS BIGINT)
      |      / ${KClusters}.0) AS BIGINT) AS share
      |  FROM a2),
      |r AS (
      |  SELECT cid, vec_id,
      |    row_number() OVER (PARTITION BY cid
      |      ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id)
      |      AS rk,
      |    count(*) OVER (PARTITION BY cid) AS n_members
      |  FROM a2),
      |s AS (
      |  SELECT r.*, least(r.n_members, t.share) AS quota,
      |    r.rk <= least(r.n_members, t.share) AS sel
      |  FROM r, tot t)
      |SELECT cid, any_value(n_members) AS n_members, any_value(quota) AS quota,
      |  count(*) FILTER (WHERE sel) AS n_selected,
      |  CAST(sum(vec_id) FILTER (WHERE sel) AS BIGINT) AS sel_vecid_sum,
      |  max(vec_id) FILTER (WHERE sel) AS sel_vecid_max
      |FROM s GROUP BY cid ORDER BY cid""".stripMargin

  // ---------------------------------------------------------------------------
  // q113 — SemDeDup at production K (the scale lane for q63): identical
  // semantics — deterministic 2-pass k-means, then a within-cluster cosine
  // near-dup census — but K GROWS with the corpus (K = ⌈N/64⌉, target cell
  // ≈ Dim docs), which is the actual SemDeDup rule (the paper clusters
  // LAION into 11k cells precisely so the quadratic within-cluster verify
  // stays O(N·cell) = linear, not O(N²/K) with K fixed). q63 keeps K=8 as
  // the reference-scale oracle form; this lane is what a 100 TB run uses.
  //
  // Physical shape differs from q63 BY DESIGN: K literal centroid
  // expressions stop codegen'ing around K≈10² — here centroids are a
  // BROADCAST (cid, cvec, cc) frame; assignment is crossJoin(broadcast) +
  // map-side partial min(struct(dist, cid)) per vec_id, so the exploded
  // N×K candidate rows never shuffle (only N argmin rows do). Driver
  // state is K×(Dim+1) values = N/64·65 — ~8 MB per million vectors, the
  // same "bounded codebook" contract as PQ training. Exactness discipline
  // is q63's verbatim: integer micro-units end-to-end, HALF_UP centroid
  // rounding, (dist, cid) tie-break — SemDedupScaledSpec replays the whole
  // pipeline in plain Scala and SCALE.md carries the 10×/100× wall rows.
  private[graft] val TargetCell = 64

  /** Collect the K smallest (md5-rank, vec_id) seed rows (vec_id, mud, hk)
    * through the staged lane's BAND trick: filter to the uniform-hash
    * prefix expected to hold 3·K rows (exactness: if the band holds ≥ K
    * rows, the K-th smallest hk lies inside it, so the global top-K does
    * too; underflow falls back to the full frame). Without the band,
    * `orderBy.limit(K).collect()` ships every partition's top-K — 32×K
    * rows at local[32] — which at K = 125,000 exceeded
    * spark.driver.maxResultSize (measured: 1,042 MiB of task results for
    * a 64 MB seed table) and killed the gate-index build. The band bounds
    * driver-shipped rows to ~3·K regardless of partition count. */
  private def collectSeedRows(v: DataFrame, k: Int, n: Long)
      : Array[org.apache.spark.sql.Row] = {
    // ONE job, not count-then-top-K (r16, guide §1.3/§5): the common path
    // used to pay a band-population count job AND an orderBy.limit(K)
    // collect per construction; collecting the O(3·K) band directly and
    // taking the top-K on the driver is the same O(K) driver shipment the
    // band already guarantees (the existing K-seed consumer materializes
    // all K rows driver-side anyway), with the widening policy unchanged
    // and shared (seedBandSearch). Same seeds: the driver sort key
    // (hk asc, vec_id asc) is exactly the removed orderBy's.
    val hkv = hkFrame(v)
    val rows = seedBandSearch(k, n) { t2 =>
      val r = hkv.filter(col("hk") < t2).collect()
      (r.length.toLong, r)
    }
    rows.sortBy(r => (r.getAs[Long]("hk"), r.getAs[Long]("vec_id"))).take(k)
  }

  /** The hk-banded seed-candidate frame (vec_id, mud, hk): all rows whose
    * md5-rank falls below the threshold expected to hold 3·K rows
    * (hk is uniform over [0, 2³²) — the unsigned 4-byte md5 prefix — so
    * the margin scales by 2³², NOT Int.MaxValue: the r10-ADVICE rule).
    * Exact: if the band holds ≥ K rows, the K-th smallest hk lies inside
    * it, so the global top-K by (hk, vec_id) does too; underflow WIDENS
    * the threshold (doubling) until the band holds K rows — never a
    * fallback to the unbanded frame, whose orderBy.limit(K).collect would
    * re-introduce the 32×K per-partition top-K driver shipment the band
    * exists to prevent (r12 ADVICE). Each doubling at most doubles the
    * expected band population, so driver-shipped rows stay O(K) on the
    * rare retry path too. ONE definition shared by the collecting
    * consumer ([[collectSeedRows]], the gate-index builders) and the
    * distributed one ([[stagedSeeds]]), so a margin/scaling fix can never
    * drift between the lanes. */
  private def seedBand(v: DataFrame, k: Int, n: Long): DataFrame = {
    val hkv = hkFrame(v)
    seedBandSearch(k, n) { t2 =>
      val band = hkv.filter(col("hk") < t2)
      (band.count(), band)
    }
  }

  /** The (vec_id, mud, hk) frame the band filters over. */
  private def hkFrame(v: DataFrame): DataFrame =
    v.select(col("vec_id"), col("mud"))
      .withColumn("hk",
        graft.functions.GraftFunctions.md5PrefixInt(col("vec_id").cast("string")))

  /** The widening threshold search — ONE policy definition for both band
    * consumers (the counting seedBand and the collecting collectSeedRows),
    * so a margin/scaling fix can never drift between them: `probe`
    * materializes the band for a threshold and reports (population,
    * result); the search widens (doubling) until the band holds ≥ k rows
    * or covers the full hash space. At t2 == 2³² the predicate is vacuous
    * (band == the whole frame): k is within margin-of-n, the one regime
    * where unbanded is unavoidable. */
  private def seedBandSearch[A](k: Int, n: Long)(probe: Long => (Long, A)): A = {
    val full = 1L << 32
    var t2: Long = math.min(full,
      (3.0 * k / math.max(n, 1L) * full.toDouble).toLong + 1024L)
    var (cnt, a) = probe(t2)
    while (cnt < k && t2 < full) {
      t2 = math.min(full, t2 * 2)
      val r = probe(t2); cnt = r._1; a = r._2
    }
    a
  }

  private[graft] def scaledK(n: Long): Int =
    math.max(1, math.ceil(n / TargetCell.toDouble).toInt)

  private def kmeansAssignmentScaled(spark: SparkSession, d: String): DataFrame = {
    // repartition BEFORE persist: the dominant stage is the ×K candidate
    // explosion on the crossJoin's STREAM side, which otherwise inherits
    // the corpus parquet's split count (2 at the 10× fixture — 30 of 32
    // cores idle, measured 28 s/stage; repartitioned: the same stage is
    // seconds). One shuffle of N skinny rows buys every downstream pass
    val v = withNorm(spark, d)
      .withColumn("mud",
        transform(col("e"), x => round(x * lit(1e6)).cast("long").cast("double")))
      .repartition(col("vec_id"))
      .transform(StagingRoots.persist)
    scaledAssignFrom(v)
  }

  /** The flat scaled-K pipeline over a prepared (vec_id, e, nrm, mud)
    * frame (already repartitioned + persisted) — shared by q113 (whole
    * corpus) and q117 (exact-dup reps only). */
  private def scaledAssignFrom(v: DataFrame): DataFrame =
    scaledAssignWithCents(v)._2

  /** As [[scaledAssignFrom]], also returning the final (post-Lloyd)
    * centroid table — the streaming gate's broadcast side. */
  private def scaledAssignWithCents(v: DataFrame): (IndexedSeq[Array[Double]], DataFrame) = {
    val n = v.count()
    val k = scaledK(n)
    // same deterministic seed rule as q63: the K smallest (md5(vec_id), vec_id)
    val seeds: Array[Array[Double]] = collectSeedRows(v, k, n)
      .map(_.getAs[scala.collection.Seq[Double]]("mud").toArray)

    // MAP-ONLY argmin (vs q63's K-literal-expression argmin, which stops
    // codegen'ing around K≈10²): the centroid table rides along as a
    // broadcast-by-reference long[][] inside one codegen'd kernel
    // ([[graft.functions.CentroidArgmin]]) — no row explosion, no shuffle.
    // (The tempting crossJoin(broadcast)+min(struct) form plans the partial
    // aggregate as a SortAggregate, which SORTS — and at 100× SPILLED — the
    // N×K exploded rows.) Exactness: all distances are integer micro-unit
    // sums ≤ 2.3e15, computed in Long, equal to the oracle's double
    // arithmetic bit-for-bit; strict < keeps the smaller cid on ties.
    def assign(cents: IndexedSeq[Array[Double]], outCol: String)(df: DataFrame): DataFrame =
      df.withColumn(outCol, graft.functions.GraftFunctions.centroidArgmin(
        col("mud"), cents.map(_.map(_.toLong).toSeq)))
    // persisted: the centroid-update collect AND the second assignment both
    // consume a1 — uncached, the whole ×K first pass would run twice
    val a1 = assign(seeds.toIndexedSeq, "c1")(v).transform(StagingRoots.persist)
    val lanes = (0 until Dim).map(i =>
      sum(element_at(col("mud"), i + 1).cast("long")).as(s"s$i"))
    val sums = a1.groupBy(col("c1"))
      .agg(count(lit(1)).as("cnt"), lanes: _*)
      .collect()
      .map { r =>
        val cnt = r.getAs[Long]("cnt").toDouble
        r.getAs[Int]("c1") -> (0 until Dim).map { i =>
          new java.math.BigDecimal(r.getAs[Long](s"s$i") / cnt)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        }.toArray
      }.toMap
    // empty clusters keep their seed, as in q63
    val cents2 = (0 until k).map(c => sums.getOrElse(c, seeds(c)))
    (cents2,
      assign(cents2, "cid")(a1)
        .transform(StagingRoots.persist))
  }

  def q113SemanticDedupScaled(spark: SparkSession, d: String): DataFrame =
    semDedupCensus(kmeansAssignmentScaled(spark, d))

  /** Batch-built static index for [[graft.streaming.StreamingOps
    * .streamingSemanticGate]]: the q113 centroid table (final Lloyd pass,
    * Long form for the kernel) and the per-cell member arrays
    * (vec_id, e, nrm structs per cid) a streamed vector is verified
    * against. */
  private[graft] def semanticStreamIndex(spark: SparkSession, d: String)
      : (Seq[Seq[Long]], DataFrame) = {
    val v = withNorm(spark, d)
      .withColumn("mud",
        transform(col("e"), x => round(x * lit(1e6)).cast("long").cast("double")))
      .repartition(col("vec_id"))
      .transform(StagingRoots.persist)
    val (cents, a2) = scaledAssignWithCents(v)
    val members = a2.groupBy(col("cid"))
      .agg(collect_list(struct(col("vec_id"), col("e"), col("nrm"))).as("members"))
    (cents.map(_.map(_.toLong).toSeq), members)
  }

  // ---------------------------------------------------------------------------
  // q126 — the streaming semantic gate's BATCH TWIN, oracle-checked: the
  // r11 cid-range-sharded gate (StreamingOps.streamingSemanticGateSharded,
  // nShards=4) run over the whole embeddings table as a static frame.
  // Streaming operators are spec-only by design (the driver harness is
  // batch-only); this query gives the gate projection itself — q113's
  // cell assignment + per-vector best-cos verification against the
  // assigned cell's members — a DuckDB CORRECTNESS row, and because the
  // batch path and the stream path are the SAME DataFrame transformation,
  // the oracle transitively covers the stream (StreamingSpec pins
  // stream ≡ batch and shard ≡ unsharded on full replays). Scale shape:
  // each shard broadcasts 1/S of the member index (the r11 answer to the
  // ~256 MB/M-vector single-broadcast bound); assignment is the map-only
  // codegen'd kernel; nothing here shuffles the corpus.
  def q126SemanticGateCensus(spark: SparkSession, d: String): DataFrame = {
    // production read path (r13): the gate consumes the WRITTEN index —
    // built once per (JVM, corpus) by GateStaging, reported as Bench's
    // q_staging_gate row — instead of rebuilding the clustering inline.
    // r16: the centroid table is the MEMOIZED once-per-(JVM, corpus) read
    // (GateStaging.flatCents — the streaming gate's resident-tables
    // contract), and the probe side is spread across cores BEFORE the
    // per-row verify fold: the corpus is one small parquet file at bench
    // SF, so the O(cell × Dim) fold otherwise runs on a single task (and
    // twice — the final orderBy's range sampler re-evaluates its child).
    val idx = GateStaging.flatDir(spark, d)
    val cents = GateStaging.flatCents(spark, d)
    val members = ResultSink.read(spark, s"$idx/members.parquet")
    // + 0.0 in the shared projection normalizes a rounded -0.0 (the
    // compare.py discipline)
    gateCensusProjection(graft.streaming.StreamingOps.streamingSemanticGateSharded(
      spreadIfNarrow(
        Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))),
      cents, members, nShards = 4))
  }

  /** Scale-gated probe spread (r16 verdict "What's wrong" #3): without it
    * the O(cell × Dim) verify fold runs on a single task at bench SF (and
    * twice — the final sort's range sampler re-evaluates its child); at
    * scale the spread is a no-op instead of a full corpus shuffle. ONE
    * definition for every narrow-scan kernel — see Tables.spreadIfNarrow. */
  private def spreadIfNarrow(df: DataFrame): DataFrame =
    Tables.spreadIfNarrow(df)

  /** The gate-census SQL tail over any kmeans CTE block that defines
    * `md` (vec_id, e, nrm, mud) and `a2` (vec_id, cid) — shared by the
    * flat (q126) and routed (q127) gate oracles. */
  private def gateCensusSqlOver(kmeansCte: String): String =
    s"""WITH $kmeansCte,
       |mm AS (
       |  SELECT a2.vec_id, a2.cid, md.e, md.nrm
       |  FROM a2 JOIN md USING (vec_id)),
       |cellsz AS (SELECT cid, count(*) AS n_cell_members FROM mm GROUP BY cid),
       |best AS (
       |  SELECT x.vec_id,
       |    max(round(${dotSql("x.e", "y.e")}
       |      / nullif(x.nrm * y.nrm, 0.0), 6)) AS bc
       |  FROM mm x JOIN mm y ON x.cid = y.cid AND y.vec_id <> x.vec_id
       |  GROUP BY x.vec_id)
       |SELECT m.vec_id, m.cid, c.n_cell_members,
       |  (coalesce(b.bc, -2.0) + 0.0) AS best_cos,
       |  CAST(coalesce(b.bc, -2.0) >= 0.9 AS INT) AS semantic_near_dup
       |FROM mm m
       |JOIN cellsz c USING (cid)
       |LEFT JOIN best b ON b.vec_id = m.vec_id
       |ORDER BY m.vec_id""".stripMargin

  val q126Sql: String = gateCensusSqlOver(kmeansCteSqlWithK(
    s"SELECT CAST(ceil(count(*) / $TargetCell.0) AS BIGINT) FROM md"))

  // ---------------------------------------------------------------------------
  // q127 (and its key alias q129_semantic_gate_staged) — the ROUTED
  // streaming semantic gate's batch twin, oracle-checked: same census
  // projection as q126 over the q116 routed cell geometry. The motivating
  // measurement (SCALE.md r12): at 2M vectors / K = 31,250 the flat gate's
  // assignment kernel is O(probes·K·Dim) and dominates the microbatch
  // wall; routing the SAME assignment through the coarse quantizer (coarse
  // argmin over √K seeds, then in-cell argmin over the routed cell's ~√K
  // fine centroids) cuts the per-row kernel to O(2√K·Dim). The head is the
  // staged one ([[streamingSemanticGateStaged]]): only the O(√K) coarse
  // table is driver state, the K-row fine table stays a frame — the form
  // that survives K ≥ 10⁷ (SCALE.md r13). Cell boundaries are the routed
  // lane's, so the oracle is the q116 routed kmeans CTE (exact integer
  // distances, ties → smaller ccid/cid) under the q126 census tail.
  def q127SemanticGateRoutedCensus(spark: SparkSession, d: String): DataFrame = {
    // production read path: the gate consumes the index GateStaging wrote
    // once per (JVM, corpus) (build cost = q_staging_gate); the coarse
    // table is its memoized read, and the probe side is spread before the
    // per-row verify fold (see q126)
    val idx = GateStaging.routedDir(spark, d)
    val members = ResultSink.read(spark, s"$idx/members.parquet")
    gateCensusProjection(graft.streaming.StreamingOps.streamingSemanticGateStaged(
      spreadIfNarrow(
        Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))),
      GateStaging.routedTables(spark, d), members))
  }

  /** Shared census projection of the gate twins (q126/q127). */
  private def gateCensusProjection(gated: DataFrame): DataFrame =
    gated
      .select(col("vec_id"), col("cid"),
        col("n_cell_members").cast("long").as("n_cell_members"),
        (col("best_cos") + lit(0.0)).as("best_cos"),
        col("semantic_near_dup").cast("int").as("semantic_near_dup"))
      .orderBy(col("vec_id"))

  // ---------------------------------------------------------------------------
  // q130 — the INCREMENTAL semantic-index lifecycle, oracle-checked (r14):
  // the one r13 subsystem whose correctness rested on ScalaTest alone. The
  // query runs the whole production sequence — staged BUILD on a base
  // slice (vec_id % 4 != 0), one online ADMIT batch of the arrivals under
  // the frozen routing tables (StreamingOps.semanticAdmitBatch: greedy
  // first-arrival in vec_id order, the q49 discipline), COMPACT back to
  // the pristine one-row-per-cid layout, and a census read of the index
  // that came out the other end. The oracle replays the same frozen-
  // tables assignment in DuckDB (the base-restricted routed kmeans CTE +
  // the staged probe routing rule) and the same greedy as a recursive
  // CTE over per-cell arrival ranks. minCos is 0.3, not the production
  // 0.9: the synthetic embeddings fixture's pairwise-cosine ceiling is
  // 0.51, so at 0.9 the greedy would never reject and the oracle row
  // would pin only the assignment, not the admit decision (at 0.3 the
  // sf0.01 run rejects 71/125 arrivals, with admit chains).
  private[graft] val AppendMinCos = 0.3
  private val AppendBaseWhere = "WHERE vec_id % 4 <> 0"
  private val AppendArrivalWhere = "WHERE vec_id % 4 = 0"

  def q130SemanticIndexAppendCensus(spark: SparkSession, d: String): DataFrame = {
    // fresh mutable copy of the memoized pristine base build — append and
    // compact mutate the dir in place, and a re-run must start pristine
    val idx = GateStaging.appendWorkdir(spark, d)
    val staged = stagedGateTables(
      ResultSink.read(spark, s"$idx/coarse.parquet"),
      ResultSink.read(spark, s"$idx/fine.parquet"))
    val arrivals = Tables.embeddings(spark, d)
      .filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
    val flags = graft.streaming.StreamingOps
      .semanticAdmitBatch(idx, staged, arrivals, minCos = AppendMinCos)
    staged.cells.unpersist()
    // close the lifecycle: fold the append generations back to the
    // pristine layout BEFORE the census read — the census then checks
    // compaction's rewrite, not just the merged-read view
    semanticIndexCompact(spark, idx)
    val admitted = ResultSink.read(spark, s"$idx/members.parquet")
      .select(col("cid"), explode(col("members")).as("m"))
      .select(col("m.vec_id").as("vec_id"), col("cid"))
    val cellSz = admitted.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_cell_members"))
    val admRows = admitted
      .withColumn("generation",
        when(col("vec_id") % 4 === 0, lit(1)).otherwise(lit(0)))
      .withColumn("admitted", lit(1))
    val rejRows = flags.filter(col("semantic_near_dup"))
      .select(col("vec_id"), col("cid"))
      .withColumn("generation", lit(1))
      .withColumn("admitted", lit(0))
    admRows.unionByName(rejRows)
      .join(cellSz, Seq("cid"))
      .select(col("vec_id"), col("cid"), col("generation"), col("admitted"),
        col("n_cell_members"))
      .orderBy(col("vec_id"))
  }

  /** q130's oracle: the base-restricted routed-kmeans CTE (frozen tables
    * exactly as the base build computes them), the staged probe-routing
    * rule for arrivals (coarse argmin over non-empty coarse cells →
    * in-cell argmin, ties to the smaller id — the kernels' rule), and the
    * greedy first-arrival admit as a RECURSIVE CTE over per-cell arrival
    * ranks. Conflict pairs are precomputed set-wise (cpairs) so the
    * recursion carries only admitted-id lists; md/a2 and the arrival CTEs
    * are MATERIALIZED so the recursion does not re-evaluate the kmeans
    * chain once per step (108 s → ~1 s at sf0.01). Validated against an
    * independent plain-Python greedy replay at both SFs before wiring. */
  lazy val q130Sql: String = {
    val sqDist = sqDistSql _
    s"""WITH RECURSIVE ${routedKmeansCteSqlWhere(AppendBaseWhere, materialize = true)},
       |amd AS MATERIALIZED (
       |  SELECT vec_id, e, nrm,
       |    list_transform(e, x -> round(x * 1000000.0)::BIGINT::DOUBLE) AS mud
       |  FROM v $AppendArrivalWhere),
       |avc AS (
       |  SELECT vec_id, ccid FROM (
       |    SELECT a.vec_id, c.ccid, row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${sqDist("a.mud", "c.mud")}, c.ccid) AS rn
       |    FROM amd a CROSS JOIN (
       |      SELECT cs.* FROM cs WHERE ccid IN (SELECT DISTINCT ccid FROM f2c2)) c)
       |  WHERE rn = 1),
       |aa2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT a.vec_id, f.cid, row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${sqDist("a.mud", "f.cmu")}, f.cid) AS rn
       |    FROM amd a JOIN avc USING (vec_id)
       |    JOIN f2c2 ON f2c2.ccid = avc.ccid
       |    JOIN c2f f ON f.cid = f2c2.cid) WHERE rn = 1),
       |aa AS MATERIALIZED (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
       |  FROM aa2),
       |allv AS MATERIALIZED (
       |  SELECT a2.vec_id, a2.cid, md.e, md.nrm FROM a2 JOIN md USING (vec_id)
       |  UNION ALL
       |  SELECT aa.vec_id, aa.cid, amd.e, amd.nrm FROM aa JOIN amd USING (vec_id)),
       |cpairs AS MATERIALIZED (
       |  SELECT x.vec_id AS aid, y.vec_id AS bid
       |  FROM (SELECT allv.* FROM allv JOIN aa USING (vec_id)) x
       |  JOIN allv y ON y.cid = x.cid AND y.vec_id <> x.vec_id
       |  WHERE round(${dotSql("x.e", "y.e")}
       |    / nullif(x.nrm * y.nrm, 0.0), 6) >= $AppendMinCos),
       |aaconf AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid, a.rn,
       |    coalesce(c.ids, CAST([] AS BIGINT[])) AS conflicts
       |  FROM aa a LEFT JOIN (
       |    SELECT aid, list(bid) AS ids FROM cpairs GROUP BY aid) c
       |  ON c.aid = a.vec_id),
       |rec AS (
       |  SELECT cells.cid, 0 AS rn, CAST(NULL AS BIGINT) AS vec_id,
       |    CAST(NULL AS BOOLEAN) AS dup,
       |    coalesce(list(b.vec_id) FILTER (WHERE b.vec_id IS NOT NULL),
       |      CAST([] AS BIGINT[])) AS adm
       |  FROM (SELECT DISTINCT cid FROM allv) cells
       |  LEFT JOIN a2 b ON b.cid = cells.cid
       |  GROUP BY cells.cid
       |  UNION ALL
       |  SELECT a.cid, a.rn, a.vec_id,
       |    len(list_filter(a.conflicts, x -> list_contains(r.adm, x))) > 0 AS dup,
       |    CASE WHEN len(list_filter(a.conflicts, x -> list_contains(r.adm, x))) > 0
       |         THEN r.adm ELSE list_append(r.adm, a.vec_id) END AS adm
       |  FROM rec r JOIN aaconf a ON a.cid = r.cid AND a.rn = r.rn + 1),
       |flags AS (SELECT cid, vec_id, dup FROM rec WHERE rn >= 1),
       |cellsz AS (
       |  SELECT cid, count(*) AS n_cell_members FROM (
       |    SELECT vec_id, cid FROM a2
       |    UNION ALL
       |    SELECT vec_id, cid FROM flags WHERE NOT dup) GROUP BY cid)
       |SELECT u.vec_id, u.cid, u.generation, u.admitted, c.n_cell_members
       |FROM (
       |  SELECT vec_id, cid, CAST(0 AS INT) AS generation,
       |    CAST(1 AS INT) AS admitted FROM a2
       |  UNION ALL
       |  SELECT vec_id, cid, CAST(1 AS INT),
       |    CAST(CASE WHEN dup THEN 0 ELSE 1 END AS INT) FROM flags) u
       |JOIN cellsz c USING (cid)
       |ORDER BY u.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q116 — ROUTED SemDeDup (the q113 pattern one rung up): at K = ⌈N/64⌉
  // the flat argmin's N·K arithmetic goes super-linear once K reaches
  // ~10⁴ (measured: 12.3 s at 100× but 156 s at 1000×, where K = 31,250
  // and the kernel does 4e12 multiplies). q116 is the faiss coarse-
  // quantizer answer: k₁ = ⌈√K⌉ coarse cells (the first k₁ fine seeds),
  // each vector routes to its nearest NON-EMPTY coarse cell and takes the
  // argmin only over that cell's fine centroids — O(√K) per row. The
  // clustering is an APPROXIMATION of q113's (exactly as IVF is of flat
  // k-means); the oracle replicates the routed algorithm precisely, and
  // the same census runs on top. The assignment is the staged routed
  // pipeline ([[routedAssignStagedFrom]], shared with q118/q119 and the
  // routed gate index). Non-empty restriction: a duplicate seed vector can
  // orphan a coarse cell (its fine twin routes to the smaller ccid on the
  // 0-0 tie); vectors route only among cells that HAVE fine centroids.
  private def kmeansAssignmentRouted(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, d)
      .withColumn("mud",
        transform(col("e"), x => round(x * lit(1e6)).cast("long").cast("double")))
      .repartition(col("vec_id"))
      .transform(StagingRoots.persist)
    routedAssignStagedFrom(v)
  }

  /** Write the FLAT gate-index layout (cents.parquet + members.parquet)
    * that [[GateStaging]] stages. Members are
    * range-partitioned by cid so each cid-range verify shard's broadcast
    * build scans only ITS files/row-groups (measured r12: 8 unpruned
    * concurrent 519 MB scans OOM'd an 8 g gate JVM the pruned layout
    * serves comfortably). */
  private[graft] def writeGateIndexFlat(spark: SparkSession, dst: String,
      cents: Seq[Seq[Long]], members: DataFrame): Unit = {
    import spark.implicits._
    members.repartitionByRange(32, col("cid")).sortWithinPartitions("cid")
      .write.mode("overwrite").parquet(s"$dst/members.parquet")
    cents.zipWithIndex.map(_.swap).toDF("cid", "cent")
      .repartition(1).write.mode("overwrite").parquet(s"$dst/cents.parquet")
  }

  /** Read the flat layout's centroid table back (cid-ordered). */
  private[graft] def readFlatCents(spark: SparkSession, idx: String): Seq[Seq[Long]] =
    ResultSink.read(spark, s"$idx/cents.parquet")
      .orderBy(col("cid")).collect().map(_.getSeq[Long](1)).toSeq

  /** The routing tables of the ONE routed-assignment head, staged: only
    * the O(√K) coarse table is driver state (`nonEmpty` coarse ids and
    * their vectors, ~180 KB at K = 125,000); the K-row fine table stays a
    * frame, `cells`, packed one row per coarse cell as (__route, cc, ids)
    * with cc/ids cid-ascending (the tie rule), met by probe rows in an
    * equi join on the route. `geom` = the index geometry version these
    * tables were loaded under (-1 = not index-bound — build-pipeline
    * tables that never feed the admit path's version check). */
  private[graft] final case class StagedGateTables(
      nonEmpty: Seq[Int], coarse: Seq[Seq[Long]], cells: DataFrame,
      geom: Long = -1L)

  /** The written coarse table (ccid, cmud) as (non-empty ccids, their
    * vectors), ccid-ascending — the head's only collected state. */
  private[graft] def readCoarse(coarseDf: DataFrame): (Seq[Int], Seq[Seq[Long]]) = {
    val rows = coarseDf.orderBy(col("ccid")).collect()
    (rows.map(_.getInt(0)).toSeq, rows.map(_.getSeq[Long](1).toSeq).toSeq)
  }

  /** A fine table (ccid, cid, cmud: array<bigint>) packed into the
    * [[StagedGateTables]] `cells` layout. */
  private[graft] def stagedCells(fineDf: DataFrame): DataFrame =
    fineDf
      .groupBy(col("ccid"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cmud")))).as("cs"))
      .select(col("ccid").as("__route"),
        expr("transform(cs, x -> x.cmud)").as("cc"),
        expr("transform(cs, x -> x.cid)").as("ids"))

  /** [[StagedGateTables]] from the written coarse/fine parquet frames,
    * with `cells` persisted through [[StagingRoots.persist]]: the open
    * owning scope releases it, and outside every scope the caller
    * unpersists it. */
  private[graft] def stagedGateTables(coarseDf: DataFrame,
      fineDf: DataFrame): StagedGateTables = {
    val (nonEmpty, coarse) = readCoarse(coarseDf)
    StagedGateTables(nonEmpty, coarse, StagingRoots.persist(stagedCells(fineDf)))
  }

  /** [[stagedGateTables]] bound to a WRITTEN index dir: reads the
    * coarse/fine parquet AND captures the geometry version, so
    * [[graft.streaming.StreamingOps.semanticAdmitBatch]] can refuse the
    * tables once a rebuild retires them (the version is captured BEFORE
    * the table reads — a rebuild completing in between makes the tables
    * look OLDER than they are, the conservative direction: a spurious
    * reload, never a stale admit). */
  private[graft] def stagedGateTablesAt(spark: SparkSession, idx: String)
      : StagedGateTables = {
    val geom = indexGeometryVersion(idx)
    stagedGateTables(
      ResultSink.read(spark, s"$idx/coarse.parquet"),
      ResultSink.read(spark, s"$idx/fine.parquet")).copy(geom = geom)
  }

  /** One routed-assignment projection over a prepared (…, mud) frame:
    * coarse argmin (O(√K) codegen kernel) → route → equi join with the
    * packed fine-cell frame → in-cell argmin via the column-borne
    * [[graft.functions.CellArgmin]] kernel. The join strategy is Spark's
    * size rule: a cells frame under `autoBroadcastJoinThreshold` is
    * broadcast (no probe shuffle), a larger one is shuffled, so the
    * K-row table never has to fit on the driver. */
  private[graft] def stagedGateAssignApply(t: StagedGateTables,
      outCol: String)(df: DataFrame): DataFrame =
    df
      .withColumn("__ridx",
        graft.functions.GraftFunctions.centroidArgmin(col("mud"), t.coarse))
      .withColumn("__route", element_at(typedLit(t.nonEmpty), col("__ridx") + 1))
      .join(t.cells, Seq("__route"))
      .withColumn(outCol,
        graft.functions.GraftFunctions.cellArgmin(col("mud"), col("cc"), col("ids")))
      .drop("__ridx", "__route", "cc", "ids")

  def q116SemanticDedupRouted(spark: SparkSession, d: String): DataFrame =
    semDedupCensus(kmeansAssignmentRouted(spark, d))

  // ---------------------------------------------------------------------------
  // The routed assignment (r8 verdict "What's missing" #1), serving q116,
  // q118 (and its key alias q125_semantic_dedup_staged), q119 and the
  // routed gate index, with no K-proportional state on the driver. A
  // driver-resident form would hold three pieces of state that scale with
  // K: the K-row seed collect, the K-row Lloyd centroid-update collect,
  // and a K×65-long kernel reference array rebroadcast per pass — ~8 MB
  // per million vectors, but ≈8 GB at 10⁹ vectors (K ≈ 1.6·10⁷), which
  // no driver heap survives. Here the centroid table NEVER exists on the
  // driver:
  //   • seeds: a 3×-expected-threshold filter on the uniform md5 rank
  //     bounds the sort to O(K) rows (exactness checked — falls back to
  //     the full sort if the band underflows), the sort is a distributed
  //     range-partitioned orderBy, and zipWithIndex (partition-ordered
  //     after orderBy) assigns cid = rank with no driver materialization.
  //   • coarse table: the first k₁ = ⌈√K⌉ seeds — the ONLY collected
  //     state, O(√K) (~170 KB at K = 1.6·10⁷).
  //   • fine→coarse routing: the same CentroidArgmin kernel, map-only
  //     over the K-row seed FRAME (not a driver loop).
  //   • per-cell tables: groupBy(route) packs each coarse cell's fine
  //     centroids into one row (cid-ascending for the tie rule); vectors
  //     compute their route map-only, then meet their cell's table in an
  //     equi join on the route key ([[stagedGateAssignApply]]: broadcast
  //     while the cells are small, shuffled past the broadcast threshold)
  //     and take the argmin via the column-borne CellArgmin kernel.
  //   • Lloyd update: the per-cid lane sums stay a DataFrame and rejoin
  //     the seed frame (coalesce = empty cells keep seeds, HALF_UP mean
  //     rounding as everywhere).
  // The oracle replays the same algorithm (routedKmeansCteSql).
  /** The staged seed frame: (cid, smud) with cid = md5-rank, built with
    * NO K-row driver materialization (banded distributed sort +
    * zipWithIndex). */
  private def stagedSeeds(v: DataFrame, k: Int, n: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val spark = v.sparkSession
    val band = seedBand(v, k, n)
    val seedRdd = band.orderBy(col("hk"), col("vec_id")).rdd
      .zipWithIndex()
      .filter(_._2 < k)
      .map { case (r, i) =>
        Row(i.toInt, r.getAs[scala.collection.Seq[Double]]("mud"))
      }
    val seedSchema = StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("smud", ArrayType(DoubleType, containsNull = false))))
    spark.createDataFrame(seedRdd, seedSchema)
      .transform(StagingRoots.persist)
  }

  /** The O(√K) coarse table — the staged path's ONLY collected state. */
  private def stagedCoarse(seeds: DataFrame, k1: Int): Seq[Seq[Long]] =
    seeds.filter(col("cid") < k1)
      .orderBy(col("cid")).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("smud").map(_.toLong).toSeq).toSeq

  private def routedAssignStagedFrom(v: DataFrame): DataFrame =
    routedAssignStagedWithTables(v)._3

  /** As [[routedAssignStagedFrom]], also returning the routing tables in
    * their staged (never-collected-beyond-√K) form: the coarse table and
    * the final fine-centroid frame in the written index layout
    * (ccid, cid, cmud) — everything [[writeGateIndexStaged]] persists as
    * coarse/fine parquet. */
  private[graft] def routedAssignStagedWithTables(v: DataFrame,
      targetCell: Int = TargetCell)
      : (Seq[Seq[Long]], DataFrame, DataFrame) = {
    val n = v.count()
    val k = math.max(1, math.ceil(n / targetCell.toDouble).toInt)
    val k1 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val seeds = stagedSeeds(v, k, n)
    // the only collected state: O(√K) coarse vectors
    val coarse: Seq[Seq[Long]] = stagedCoarse(seeds, k1)

    // a fine table (cid, smud) routed to its coarse cells, in the written
    // layout (ccid, cid, cmud)
    def routed(fine: DataFrame): DataFrame =
      fine.select(
        graft.functions.GraftFunctions.centroidArgmin(col("smud"), coarse).as("ccid"),
        col("cid"), expr("transform(smud, v -> CAST(v AS BIGINT))").as("cmud"))

    // vectors route only among coarse cells that HAVE fine centroids (a
    // duplicate seed can orphan one)
    def assign(fine: DataFrame, nonEmpty: Seq[Int], outCol: String)(df: DataFrame): DataFrame =
      stagedGateAssignApply(StagedGateTables(nonEmpty, nonEmpty.map(coarse(_)),
        stagedCells(routed(fine))), outCol)(df)

    // first pass: the fine table is the seeds, whose first k1 ARE the
    // coarse table, so seed j routes to the first coarse cell holding its
    // vector and a later copy loses every tie to it — cell j is non-empty
    // iff coarse(j) is its vector's first occurrence, known without a job
    val firstOf = scala.collection.mutable.HashMap.empty[Seq[Long], Int]
    val nonEmpty1 = coarse.indices.filter(j => firstOf.getOrElseUpdate(coarse(j), j) == j)
    // a1 feeds both the Lloyd update and the final join, so every plan
    // downstream would nest its whole plan twice; as a plan leaf it is one
    // node (Spark re-describes the full plan on each adaptive re-plan,
    // which at small input costs more than the work)
    val a1 = org.apache.spark.sql.graftbridge.GraftBridge
      .planLeaf(assign(seeds, nonEmpty1, "c1")(v))
      .transform(StagingRoots.persist)
    val lanes = (0 until Dim).map(i =>
      sum(element_at(col("mud"), i + 1).cast("long")).as(s"s$i"))
    // Lloyd sums stay distributed: K rows keyed by c1, rejoined to seeds
    val sums = a1.groupBy(col("c1"))
      .agg(count(lit(1)).as("cnt"), lanes: _*)
      .select(col("c1"), array((0 until Dim).map(i =>
        round(col(s"s$i").cast("double") / col("cnt"), 0)): _*).as("umud"))
    val fine2 = seeds.join(sums, seeds("cid") === sums("c1"), "left")
      .select(col("cid"), coalesce(col("umud"), col("smud")).as("smud"))
      .transform(StagingRoots.persist)
    // after the Lloyd update emptiness depends on the data: collect the
    // O(√K) non-empty ccids
    val nonEmpty2 = routed(fine2).select(col("ccid")).distinct().collect()
      .map(_.getInt(0)).sorted.toSeq
    val assigned = assign(fine2, nonEmpty2, "cid")(a1)
      .transform(StagingRoots.persist)
    (coarse, routed(fine2), assigned)
  }

  /** The routed gate-index build: the q116 routed assignment's final
    * routing tables plus per-(routed)-cell member arrays (vec_id, e, nrm
    * structs per cid), built with no O(K) driver state — a driver-resident
    * build was the K-axis heap ceiling (29.3 GB at K = 250k on 2M
    * vectors); this one fits the 8 g default at the same K. Returns (full
    * coarse table — O(√K), the routed fine-centroid frame
    * (ccid, cid, cmud), the per-cell member frame). Cell BOUNDARIES are
    * the routed lane's (q116), not the flat lane's (q113) — the two gates
    * are distinct, both oracle-checked (q126 / q127). */
  private[graft] def semanticStreamIndexStaged(spark: SparkSession, d: String)
      : (Seq[Seq[Long]], DataFrame, DataFrame) =
    semanticStreamIndexStagedFrom(Tables.embeddings(spark, d))

  /** [[semanticStreamIndexStaged]] over an arbitrary (vec_id, embedding)
    * frame instead of the whole corpus — the q130 incremental-lifecycle
    * oracle builds its BASE index over a deterministic slice of
    * `embeddings` and admits the complement as arrivals. */
  private[graft] def semanticStreamIndexStagedFrom(vecs: DataFrame,
      targetCell: Int = TargetCell): (Seq[Seq[Long]], DataFrame, DataFrame) = {
    val v = vecs
      .withColumn("e", col("embedding"))
      .withColumn("nrm", sqrt(dot("e", "e")))
      .withColumn("mud",
        transform(col("e"), x => round(x * lit(1e6)).cast("long").cast("double")))
      .repartition(col("vec_id"))
      .transform(StagingRoots.persist)
    val (coarse, fineRouted, a2) = routedAssignStagedWithTables(v, targetCell)
    val members = a2.groupBy(col("cid"))
      .agg(collect_list(struct(col("vec_id"), col("e"), col("nrm"))).as("members"))
    (coarse, fineRouted, members)
  }

  /** Write the routed gate-index layout (coarse/fine/members parquet)
    * from [[semanticStreamIndexStagedFrom]]'s frames, collecting only the
    * O(√K) non-empty coarse ids. Returns K (the fine-cell count). The one
    * routed-index writer: [[GateStaging]]'s routed
    * and q130 base indexes, and the rebuild. The fine table is persisted
    * for its three reads and released when the writer returns or throws. */
  private[graft] def writeGateIndexStaged(spark: SparkSession, dst: String,
      coarse: Seq[Seq[Long]], fineRouted: DataFrame, members: DataFrame): Long =
    StagingRoots.owningCaches {
      members.repartitionByRange(32, col("cid")).sortWithinPartitions("cid")
        .write.mode("overwrite").parquet(s"$dst/members.parquet")
      val fineOut = StagingRoots.persist(fineRouted)
      fineOut.repartition(1).write.mode("overwrite").parquet(s"$dst/fine.parquet")
      // O(√K): the non-empty coarse ids — the only collected state
      val nonEmpty = fineOut.select(col("ccid")).distinct().collect()
        .map(_.getInt(0)).sorted.toSeq
      import spark.implicits._
      nonEmpty.map(cc => (cc, coarse(cc)))
        .toDF("ccid", "cmud")
        .repartition(1).write.mode("overwrite").parquet(s"$dst/coarse.parquet")
      fineOut.count()
    }

  /** INCREMENTAL gate-index maintenance — the q88 snapshot-dedup
    * discipline applied to the semantic index: admit a batch of NEW
    * vectors into a WRITTEN routed index under FROZEN routing tables.
    * Assignment runs the staged head (O(√K) collected state), and the
    * arrivals' per-cell member rows are APPENDED as new parquet files —
    * cost is |batch| assignment + one append write, independent of the
    * accumulated corpus size (the existing members are never read, let
    * alone rewritten). Centroids never move: cell geometry is versioned
    * with the index BUILD (the SemDeDup incremental contract — a
    * periodic rebuild re-clusters; between rebuilds the frozen-cell
    * placement is exactly what the one-shot build would have produced,
    * SemDedupStagedSpec pins it). An appended index holds MULTIPLE rows
    * per cid (one per append generation), so it must be read through
    * [[readCellMembersMerged]]; the pristine-build readers stay scan-only. */
  private[graft] def semanticIndexAppend(spark: SparkSession, idx: String,
      vecs: DataFrame): Long = StagingRoots.owningCaches {
    // heal FIRST: after a compact crashed between its two renames the
    // live members dir is missing (held in members.precompact.parquet),
    // and SaveMode.Append would CREATE a fresh members.parquet holding
    // only this delta — a later heal would then see live+pre and delete
    // the pre dir carrying the entire base index (r13 review)
    withIndexLock(idx)(healInterruptedCompact(idx))
    // the staged cells and the assignment are released when the append
    // returns or throws (the owning scope)
    val staged = stagedGateTables(
      ResultSink.read(spark, s"$idx/coarse.parquet"),
      ResultSink.read(spark, s"$idx/fine.parquet"))
    val assigned = graft.streaming.StreamingOps
      .semanticGateAssignStaged(vecs, staged)
      .transform(StagingRoots.persist)
    val n = assigned.count()
    // an empty batch must not mark the index as appended (r13 review)
    if (n > 0)
      writeMemberDelta(assigned.groupBy(col("cid"))
        .agg(collect_list(struct(col("vec_id"), col("e"), col("nrm"))).as("members")),
        idx)
    n
  }

  /** ONE delta writer for every append path (the CLI append mode and the
    * online admit loop — a format change must hit both or neither): the
    * per-cid delta rows are range-partitioned and cid-sorted like the base
    * layout, so cid-range verify shards keep pruning delta files too (the
    * unpruned-scan regime is what OOM'd the r12 gate JVM), and an
    * `_appended` marker is dropped so RAW one-row-per-cid readers can fail
    * loudly instead of silently emitting one verify row per generation —
    * an appended index must be read through [[readCellMembersMerged]].
    * The marker is written BEFORE the append commits: a crash between the
    * two fails conservatively (a loud spurious refusal on a still-pristine
    * index) instead of the inverted direction (silent duplicate verify
    * rows on an appended one — r13 review). */
  private[graft] def writeMemberDelta(delta: DataFrame, idx: String): Unit =
    withIndexLock(idx) {
      import java.nio.file.{Files, Paths, StandardOpenOption}
      // the marker doubles as a GENERATION LEDGER: one byte appended per
      // delta commit (still marker-FIRST — the byte lands before the
      // parquet append, so a crash between the two over-counts, never
      // under-counts), giving [[appendGenerationCount]] an O(1) read the
      // compaction policy ([[maintainIndex]]) can poll per micro-batch
      // without scanning the index
      Files.write(Paths.get(idx, "_appended"), Array('+'.toByte),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      delta.repartitionByRange(4, col("cid")).sortWithinPartitions("cid")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$idx/members.parquet")
    }

  /** Serialize every MUTATION of an index dir (delta commits and the
    * compaction swap) across threads AND processes: a per-path JVM
    * monitor (java.nio FileLock throws on same-JVM overlap rather than
    * queueing) wrapping an OS advisory lock on `<idx>/_lock`
    * (`FileChannel.lock` blocks across processes and is released by the
    * OS on ANY process exit — no stale-lock state to heal). Without
    * this, a compact racing a concurrent append could sweep the
    * append's just-committed delta files aside with the pre-compact dir
    * and delete them — the silent-unmark failure the heal doc forbids
    * (r13 review). Readers stay lock-free: the swap is two atomic
    * renames and the marker ordering keeps every crash/read window
    * conservative; the lock only mutually excludes WRITERS. */
  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // REENTRANT per thread: semanticAdmitBatch holds the lock across its
  // whole read→decide→append transaction while writeMemberDelta (the
  // append step) locks on its own behalf for non-transactional callers —
  // without re-entry the inner FileChannel.lock of the SAME JVM throws
  // OverlappingFileLockException
  private val heldLocks = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  /** Times an acquire found itself holding a RETIRED lock inode and
    * re-acquired on the fresh file (diagnostics for the rebuild-race
    * rung; SemDedupStagedSpec pins that the counter moves). */
  private[graft] val staleLockRetries = new java.util.concurrent.atomic.AtomicLong(0)

  /** stat(2)-based identity of the file a path names (dev, inode on
    * POSIX); None if the path is gone. CRITICAL implementation
    * constraint, learned the hard way (r16): the validation below must
    * NEVER open a second file descriptor to the lock file — POSIX fcntl
    * locks (what FileChannel.lock uses) are released when ANY fd of the
    * same process for that file closes, so a read-back via
    * Files.readAllBytes silently dropped the holder's own lock (measured:
    * a live cross-process holder stopped excluding, lockprobe acquire
    * 0.14 s instead of the hold time). stat opens no fd. */
  private def fileKeyOf(p: java.nio.file.Path): Option[AnyRef] =
    try Some(java.nio.file.Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
    catch { case _: java.io.IOException => None }

  private[graft] def withIndexLock[A](idx: String)(body: => A): A = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val canon = Paths.get(idx).toAbsolutePath.normalize.toString
    if (heldLocks.get.contains(canon)) body
    else {
      val monitor = indexLocks.computeIfAbsent(canon, _ => new Object)
      monitor.synchronized {
        val lockPath = Paths.get(canon, "_lock")
        // Acquire with POST-ACQUIRE IDENTITY VALIDATION — the enforcement
        // of the single-maintenance-owner contract r15 could only
        // document: a writer that opened the lock file before a crash
        // window retired it, and acquired after, holds an ORPHANED inode
        // with no exclusion against writers on the fresh file. The
        // stat-sandwich (fileKey before open == fileKey after lock, both
        // present) detects that and re-acquires on whatever the path now
        // names. A COMPLETED rebuild preserves the lock inode across its
        // directory swap (see semanticIndexRebuild), so in normal
        // operation blocked writers stay valid and this loop never
        // retries; only crash-window debris (a heal deleted the inode a
        // writer was blocked on) triggers it. The sandwich is ABA-safe
        // because no path ever brings a RETIRED lock inode back while
        // the index dir exists: the rebuild swap keeps the ONE live
        // inode, and heal's window-1 dir restore only runs when the
        // index dir is missing — where open() below throws instead.
        // A missing index DIR during a rebuild's two-rename window reads
        // as NoSuchFile: wait briefly for the swap to land rather than
        // crash the admit process, but give up loudly after 10 s (a
        // genuinely deleted index must not spin forever).
        val deadline = System.nanoTime() + 10L * 1000L * 1000L * 1000L
        var out: Option[A] = None
        while (out.isEmpty) {
          if (!Files.exists(lockPath)) {
            try Files.createFile(lockPath)
            catch {
              case _: java.nio.file.FileAlreadyExistsException => ()
              case e: java.nio.file.NoSuchFileException =>
                if (System.nanoTime() > deadline) throw e
                Thread.sleep(50)
            }
          }
          val k0 = fileKeyOf(lockPath)
          if (k0.isDefined) {
            val ch =
              try Some(java.nio.channels.FileChannel.open(lockPath,
                StandardOpenOption.WRITE))
              catch {
                case e: java.nio.file.NoSuchFileException =>
                  if (System.nanoTime() > deadline) throw e
                  Thread.sleep(50); None
              }
            ch.foreach { c =>
              try {
                val fl = c.lock()
                try {
                  if (fileKeyOf(lockPath) == k0) {
                    heldLocks.get += canon
                    try out = Some(body) finally heldLocks.get -= canon
                  } else staleLockRetries.incrementAndGet()
                } finally fl.release()
              } finally c.close()
            }
          }
        }
        out.get
      }
    }
  }

  /** The index's GEOMETRY VERSION — bumped by every rebuild (re-cluster),
    * never by compaction (which preserves the frozen geometry). Missing
    * file (every pre-r16 or freshly built index) reads as 0. Routing
    * tables loaded from an index ([[stagedGateTablesAt]]) carry the
    * version they were read under; the admit path refuses a batch whose
    * tables predate the current geometry — cids assigned under retired
    * centroids must never be committed into the rebuilt cid space. */
  private[graft] def indexGeometryVersion(idx: String): Long = {
    val p = java.nio.file.Paths.get(idx, "_geom")
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  /** Thrown by the admit path when its routing tables predate the
    * index's current geometry (a rebuild ran since they were loaded).
    * CONSERVATIVE by design: the caller reloads tables and replays the
    * batch — nothing wrong was committed. */
  private[graft] final class StaleRoutingTablesException(msg: String)
    extends IllegalStateException(msg)

  /** True iff the index is MARKED as having received append generations
    * (members.parquet holding multiple rows per cid). The check is the
    * `_appended` marker [[writeMemberDelta]] drops before its first
    * commit — conservative for every index this code wrote; an index
    * appended by some other writer without the marker is out of contract
    * (raw readers would not detect it). */
  private[graft] def hasAppendGenerations(idx: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(idx, "_appended"))

  /** Number of append generations committed since the last compaction —
    * the `_appended` ledger's byte count (one byte per delta commit;
    * marker-first ordering means a crash mid-append over-counts by one,
    * the conservative direction for a compact-when-due policy). O(1):
    * no index scan. 0 = pristine. */
  private[graft] def appendGenerationCount(idx: String): Int = {
    val marker = java.nio.file.Paths.get(idx, "_appended")
    if (java.nio.file.Files.exists(marker))
      // floor at 1: a zero-byte marker (created by the pre-ledger delta
      // writer) still means "appended at least once" — counting it as 0
      // would let maintainIndex under-count forever on a legacy index
      // (r13 review)
      math.max(1L, java.nio.file.Files.size(marker)).toInt
    else 0
  }

  /** The admit loop's MAINTENANCE policy: compact when the generation
    * ledger reaches `maxGens`. Called once per micro-batch after
    * [[graft.streaming.StreamingOps.semanticAdmitBatch]] (the check is
    * one file-size stat — free at stream cadence), it bounds BOTH
    * accumulation costs a long-running admit stream otherwise grows
    * without limit: file count (≤4 delta files per generation) and the
    * generation-merge work every read re-pays. Amortized cost per
    * admitted batch is O(index)/maxGens — the knob trades read
    * amplification (high maxGens) against rewrite frequency (low).
    * Returns true iff a compaction ran. */
  private[graft] def maintainIndex(spark: SparkSession, idx: String,
      maxGens: Int = 16): Boolean = {
    require(maxGens >= 1, s"maxGens=$maxGens (must be >= 1)")
    // heal even below threshold: an interrupted compact from a PREVIOUS
    // process must be repaired on the next maintenance tick, not only
    // once the ledger happens to reach maxGens (r13 review)
    withIndexLock(idx)(healInterruptedCompact(idx))
    appendGenerationCount(idx) >= maxGens && semanticIndexCompact(spark, idx)
  }

  /** The REBUILD trigger the incremental contract names (T68: "the real
    * rebuild trigger is cell-balance shift" — verdicts do not decay under
    * frozen tables, measured in SCALE.md r13, but a cell whose membership
    * balloons makes every probe routed there pay O(cell) verify work and
    * eventually re-creates the mega-cell regime the capped census
    * exists for). `rebuildDue` = the worst cell exceeds `ratio` × the
    * MEDIAN observed cell size.
    * One distributed aggregate over the member table — no driver-side
    * member materialization; cheap enough to poll at maintenance
    * cadence, NOT per batch (it scans the index; [[maintainIndex]]'s
    * ledger check is the per-batch knob). Frozen-appended indexes are
    * read through the generation merge, so multi-generation rows count
    * as ONE cell like the verify tail sees them. The comparison base is
    * the MEDIAN cell size (approx_percentile — mergeable, no K-row
    * spool), not the mean: the ballooned cell inflates the mean it
    * would be compared against, so a mean-ratio trigger goes QUIETER as
    * the skew it hunts grows (measured: a 12×-average blob into a
    * 6-cell index moved the mean 3× and never fired). */
  private[graft] def indexCellBalance(spark: SparkSession, idx: String): (Long, Double) = {
    val sizes = readCellMembersMerged(spark, idx)
      .select(size(col("members")).cast("long").as("n"))
    val row = sizes.agg(max(col("n")).as("mx"),
      expr("approx_percentile(n, 0.5)").cast("double").as("med")).head()
    // an empty or just-healed index yields zero member rows → both
    // aggregates NULL; a maintenance-cadence poll must see "balanced"
    // (no rebuild due), not an NPE (r14 advice)
    if (row.isNullAt(0)) (0L, 0.0) else (row.getLong(0), row.getDouble(1))
  }

  // Default calibrated at the DESIGN regime, not assumed: a healthy
  // 2M-vector/K=125k staged build's natural cell-size tail reaches
  // max/median ≈ 8.9 (max 124 vs median 14 — SCALE.md r15), so the r14
  // default of 8 false-fired on a balanced index exactly where the
  // trigger matters; 16 gives 2× margin over the measured natural tail
  // while a real blob overshoots by orders of magnitude (100,015 vs a
  // median of 14 in the same rung).
  private[graft] def rebuildDue(spark: SparkSession, idx: String,
      ratio: Double = 16.0): Boolean = {
    require(ratio > 1.0, s"ratio=$ratio (must be > 1)")
    val (mx, med) = indexCellBalance(spark, idx)
    mx > ratio * math.max(1.0, med)
  }

  /** COMPACT an appended index back to the pristine one-row-per-cid
    * layout — the maintenance step that closes the append lifecycle
    * (build → serve → [[semanticIndexAppend]]* → compact): run the
    * generation merge ONCE, rewrite `members.parquet` in the base
    * build's range-partitioned cid-sorted layout, and drop the
    * `_appended` marker so the scan-only raw readers (gate mode, the
    * verify shards' pruned broadcast builds) apply again. Until
    * compaction every read pays the merge groupBy and the per-append
    * small files; after it the index is byte-contract identical to a
    * pristine build's (same reader, same layout, same pruning story).
    * Cost is one O(index) read+write — amortized across the appends it
    * absorbs, and shardable by cid range at cluster scale exactly like
    * the verify tail (each range compacts its own files independently).
    *
    * Crash ordering is conservative at every window: the compacted
    * table is written to a sibling tmp dir first; the live dir is
    * renamed aside, the tmp renamed in (both single atomic renames);
    * the `_appended` marker is removed LAST. A crash before the marker
    * removal leaves an index the merged reader still serves correctly
    * (merging one-row-per-cid data is the identity) while raw readers
    * keep refusing — never the inverted failure (raw readers accepting
    * multi-generation rows). [[healInterruptedCompact]] finishes or
    * rolls back any interrupted window on the next call.
    *
    * Returns true iff a compaction ran (false = the index was already
    * pristine; its files are left byte-untouched). */
  private[graft] def semanticIndexCompact(spark: SparkSession, idx: String): Boolean =
    // the WHOLE compaction holds the index mutation lock — including the
    // merge materialization into tmp: a delta committed between the merge
    // snapshot and the live→pre rename would otherwise be swept aside
    // with the pre-compact dir and deleted, silently losing admitted
    // members AND their ledger bytes (r13 review). Appends block for the
    // duration (~one O(index) rewrite); readers are never blocked.
    withIndexLock(idx) {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      healInterruptedCompact(idx)
      if (!hasAppendGenerations(idx)) false
      else {
        val live = Paths.get(idx, "members.parquet")
        val tmp = Paths.get(idx, "members.compacting.parquet")
        val pre = Paths.get(idx, "members.precompact.parquet")
        readCellMembersMerged(spark, idx)
          .repartitionByRange(32, col("cid")).sortWithinPartitions("cid")
          .write.mode("overwrite").parquet(tmp.toString)
        Files.move(live, pre, StandardCopyOption.ATOMIC_MOVE)
        Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
        Files.delete(Paths.get(idx, "_appended"))
        StagingRoots.deleteRecursively(pre)
        true
      }
    }

  /** Finish or roll back a compaction interrupted mid-window, keyed off
    * which directories survived (states ordered by the swap sequence in
    * [[semanticIndexCompact]]):
    *  - live dir MISSING + precompact present → crashed between the two
    *    renames: restore the precompact dir (the index is whole again,
    *    still marked appended — the interrupted compaction re-runs).
    *  - live dir present + precompact present → crashed after the swap:
    *    the live table is already merged; drop only the precompact dir.
    *    The `_appended` marker is NEVER touched here — a crash after the
    *    swap but before the marker removal re-runs the (idempotent)
    *    merge+rewrite and removes the marker at its proper LAST step.
    *    Healing the marker itself would race a concurrent append that
    *    re-marked the index between the crash and the heal, silently
    *    unmarking fresh deltas — the one failure direction this lane
    *    must never take.
    *  - a leftover tmp dir is deleted in every state (it is regenerated
    *    wholesale; a half-written tmp must never be renamed in). */
  private[graft] def healInterruptedCompact(idx: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val live = Paths.get(idx, "members.parquet")
    val tmp = Paths.get(idx, "members.compacting.parquet")
    val pre = Paths.get(idx, "members.precompact.parquet")
    if (Files.exists(pre)) {
      if (!Files.exists(live))
        Files.move(pre, live, StandardCopyOption.ATOMIC_MOVE)
      else StagingRoots.deleteRecursively(pre)
    }
    if (Files.exists(tmp)) StagingRoots.deleteRecursively(tmp)
  }

  /** Finish or roll back a REBUILD interrupted mid-swap (states ordered
    * by the swap sequence in [[semanticIndexRebuild]] — directory-level
    * twins of [[healInterruptedCompact]]'s):
    *  - index dir MISSING + `<idx>.prerebuild` present → crashed between
    *    the two renames: restore the pre-rebuild dir (the index is whole
    *    again, possibly still marked appended — the rebuild re-runs).
    *  - index dir present + prerebuild present → crashed after the swap:
    *    the live dir is already the rebuilt one; drop only the backup.
    *  - a leftover `<idx>.rebuilt` tmp dir is deleted in every state.
    * Runs BEFORE [[withIndexLock]] (the lock file lives INSIDE the index
    * dir, which may be the thing that is missing) — callers are the
    * single-maintenance-owner paths ([[semanticIndexRebuild]],
    * [[maintainIndexWithRebuild]]). */
  private[graft] def healInterruptedRebuild(idx: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val live = java.nio.file.Paths.get(idx)
    val pre = Paths.get(idx + ".prerebuild")
    val tmp = Paths.get(idx + ".rebuilt")
    if (Files.exists(pre)) {
      if (!Files.exists(live))
        Files.move(pre, live, StandardCopyOption.ATOMIC_MOVE)
      else StagingRoots.deleteRecursively(pre)
    }
    if (Files.exists(tmp)) StagingRoots.deleteRecursively(tmp)
  }

  /** REBUILD the index from its own merged members — the T68 maintenance
    * ACTION the [[rebuildDue]] trigger exists for: re-cluster every
    * member vector (any append generations included) with the staged
    * build ([[semanticStreamIndexStagedFrom]] — O(√K) driver state, the
    * K ≥ 10⁵ form) and swap the whole index directory. Where compaction
    * merges generations under the FROZEN geometry, a rebuild re-derives
    * the geometry — the fix for the mega-cell regime frozen tables
    * cannot escape (a cell ballooned by drifted arrivals stays ballooned
    * under compaction forever).
    *
    * The cell target is the index's OBSERVED median cell size —
    * robust to the very skew that triggered the rebuild (the ballooned
    * cell inflates the mean, not the median; the same argument as
    * [[rebuildDue]]'s base) — so a rebuild preserves the original
    * build's density without the index having to record it.
    *
    * Crash ordering mirrors [[semanticIndexCompact]], one level up: the
    * new index is fully written to a sibling `<idx>.rebuilt` dir, the
    * live dir is renamed to `<idx>.prerebuild`, the rebuilt dir renamed
    * in (both single atomic renames), the backup deleted LAST;
    * [[healInterruptedRebuild]] finishes or rolls back any window. The
    * rebuilt dir carries no `_appended` marker — it is a pristine build.
    *
    * Concurrency contract (ENFORCED since r16, previously documented
    * only): the member read, re-cluster and swap run under the index
    * writer lock. The directory swap retires the lock file itself, and
    * two mechanisms make that safe against cross-process writers the r15
    * contract could only warn about: (1) [[withIndexLock]]'s post-acquire
    * token validation — a writer that opened the lock pre-swap and
    * acquired post-swap detects the orphaned inode and re-acquires on
    * the fresh file, so mutual exclusion survives the swap; (2) the
    * `_geom` version written into the rebuilt dir BEFORE the swap — an
    * admit whose routing tables predate the rebuild is refused with
    * [[StaleRoutingTablesException]] (reload + replay, nothing
    * committed). Returns the rebuilt fine-cell count K. */
  private[graft] def semanticIndexRebuild(spark: SparkSession, idx: String): Long = {
    healInterruptedRebuild(idx)
    withIndexLock(idx) {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      healInterruptedCompact(idx)
      val (_, med) = indexCellBalance(spark, idx)
      val tc = math.max(1, math.rint(med).toInt)
      val vecs = readCellMembersMerged(spark, idx)
        .select(explode(col("members")).as("m"))
        .select(col("m.vec_id").as("vec_id"), col("m.e").as("embedding"))
      val tmp = idx + ".rebuilt"
      val k = StagingRoots.owningCaches {
        val (coarse, fineRouted, members) = semanticStreamIndexStagedFrom(vecs, tc)
        writeGateIndexStaged(spark, tmp, coarse, fineRouted, members)
      }
      // the bumped geometry version rides INSIDE the rebuilt dir, so the
      // bump and the new geometry become visible in the same atomic
      // rename — no window where new tables carry the old version
      Files.write(Paths.get(tmp, "_geom"),
        (indexGeometryVersion(idx) + 1L).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val live = Paths.get(idx)
      val pre = Paths.get(idx + ".prerebuild")
      Files.move(live, pre, StandardCopyOption.ATOMIC_MOVE)
      // PRESERVE THE LOCK INODE across the swap (r16): the fcntl lock we
      // hold lives on the file's inode, so carrying the SAME file into
      // the rebuilt dir means every writer blocked on it stays validly
      // blocked on <idx>/_lock after the swap — mutual exclusion
      // survives without any writer-side special case. While the index
      // dir is renamed aside (this two-rename window), newly arriving
      // writers see NoSuchFile and wait in withIndexLock's bounded
      // retry; nobody can create a rival lock file because the dir path
      // does not exist.
      val lockInPre = pre.resolve("_lock")
      if (Files.exists(lockInPre))
        Files.move(lockInPre, Paths.get(tmp, "_lock"),
          StandardCopyOption.ATOMIC_MOVE)
      Files.move(Paths.get(tmp), live, StandardCopyOption.ATOMIC_MOVE)
      StagingRoots.deleteRecursively(pre)
      k
    }
  }

  /** The admit loop's FULL maintenance policy — [[maintainIndex]]'s
    * compact-when-due ledger check plus the T68 cell-balance trigger at
    * the same maintenance cadence: heal any interrupted window, compact
    * when the generation ledger reaches `maxGens`, then poll
    * [[rebuildDue]] and re-cluster via [[semanticIndexRebuild]] when a
    * ballooned cell exceeds `rebuildRatio` × the median. Returns
    * (compacted, rebuilt). Call at maintenance cadence, not per batch
    * (the balance poll scans the index); rebuilds inherit the
    * single-maintenance-owner contract documented on the rebuild. */
  private[graft] def maintainIndexWithRebuild(spark: SparkSession, idx: String,
      maxGens: Int = 16, rebuildRatio: Double = 16.0): (Boolean, Boolean) = {
    healInterruptedRebuild(idx)
    val compacted = maintainIndex(spark, idx, maxGens)
    val rebuilt = rebuildDue(spark, idx, rebuildRatio) && {
      semanticIndexRebuild(spark, idx)
      true
    }
    (compacted, rebuilt)
  }

  /** Generation-merging member reader for an index that has received
    * [[semanticIndexAppend]] deltas: per-cid member arrays across append
    * generations flattened into one row per cid (the verify tail's
    * one-row-per-cid contract). The merge groupBy runs on the INDEX
    * slice being read — under cid-range sharding that is 1/S of the
    * cells, map-side combinable — never on the probe side. `onlyCids`
    * prunes the SCAN to the named cells (an isin predicate the cid-sorted
    * row-group stats of [[writeMemberDelta]]/[[writeGateIndexStaged]]'s
    * layout can skip on) — the admit loop's per-batch bound: a broadcast
    * join would filter only after a full O(index) scan (r13 review). */
  private[graft] def readCellMembersMerged(spark: SparkSession,
      idx: String, onlyCids: Option[Seq[Int]] = None): DataFrame = {
    val base = ResultSink.read(spark, s"$idx/members.parquet")
    val pruned = onlyCids.fold(base)(cs => base.filter(col("cid").isin(cs: _*)))
    pruned
      .groupBy(col("cid"))
      .agg(flatten(collect_list(col("members"))).as("members"))
  }

  // ---------------------------------------------------------------------------
  // q117 — EXACT-first semantic dedup (the q49 exact→near discipline
  // applied to embeddings): identical vectors are cos=1 near-dups by
  // definition, and a corpus where one vector repeats d times puts all d
  // copies into ONE k-means cell regardless of K — C(d, 2) pairs that no
  // cluster-size rule can split (identical points cannot be separated).
  // That is the semantic lane's degenerate-cluster exposure, and the fix
  // is the text pipeline's: collapse EXACT duplicates first (group by the
  // micro-unit vector itself — no float-equality games), cluster only the
  // representatives, run the census over reps, and report the exact
  // multiplicity separately. K follows the rule on the DISTINCT count
  // (the corpus being clustered). Measured: 5% of a 200k corpus set to
  // one identical vector sends q113's census quadratic (C(10k,2) = 50M
  // pairs in one cell) while q117 is flat (SCALE.md r8).
  /** The exact-first prepared frame `v` plus a ONE-ROW totals frame
    * (n_total, n_reps). n_total used to be a synchronous driver
    * `all.count()` — a full corpus-scan job paid during CONSTRUCTION of
    * every exact-first query (q117/q118/q119, ×2 under the bench's
    * best-of-2) before any real work started (guide §5: no
    * driver-blocking actions in query paths the plan itself can
    * compute). The rep-group row count now rides `v` as `dup_cnt`
    * (8 bytes/row through the one exchange the frame already pays), so a
    * SINGLE aggregate over the persisted frame yields both totals —
    * n_total = Σ dup_cnt, n_reps = count(*) — and the census crossJoin
    * stays the plan's only nested-loop join (the q118/q119 plan pins'
    * bnlj ≤ 1 rule). Values are unchanged: Σ of exact group sizes IS the
    * corpus row count. */
  private def exactFirstReps(spark: SparkSession, d: String): (DataFrame, DataFrame) = {
    val all = withNorm(spark, d)
      .withColumn("mud",
        transform(col("e"), x => round(x * lit(1e6)).cast("long").cast("double")))
    // DIGEST-keyed grouping (r8 verdict "What's wrong" #1): keying the
    // exchange on the raw 64-element array shipped ~520 B/row of content
    // through the shuffle and drove the 32 GB driver-heap requirement at
    // 1000×. xxhash64 over the integer-valued micro-unit vector is the
    // q24 md5(text) pattern (DedupQueries.scala:31-40) — an 8-byte shuffle
    // key with map-side partial min(vec_id), same accepted-collision
    // stance as the text lane (2⁻⁶⁴ per pair). SemDedupStagedSpec pins
    // output equality with the array-keyed form; the oracle still groups
    // by mud itself.
    val repIds = all.groupBy(xxhash64(col("mud")).as("mh"))
      .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("dup_cnt"))
      .select(col("vec_id"), col("dup_cnt"))
    val vc = all.join(repIds, "vec_id")
      .select(col("vec_id"), col("e"), col("nrm"), col("mud"), col("dup_cnt"))
      .repartition(col("vec_id"))
      .transform(StagingRoots.persist)
    val totals = vc.agg(
      coalesce(sum(col("dup_cnt")), lit(0L)).as("n_total"),
      count(lit(1)).as("n_reps"))
    // consumers see exactly the pre-r16 column set; dup_cnt stays inside
    // the persisted frame for the totals aggregate only
    val v = vc.drop("dup_cnt")
    (totals, v)
  }

  private def exactFirstOutput(totals: DataFrame, v: DataFrame, census: DataFrame): DataFrame =
    totals
      .withColumn("n_exact_removed", col("n_total") - col("n_reps"))
      .select(col("n_total"), col("n_reps"), col("n_exact_removed"))
      .crossJoin(census)
      .orderBy(col("cid"))

  def q117SemanticDedupExactFirst(spark: SparkSession, d: String): DataFrame = {
    val (nTotal, v) = exactFirstReps(spark, d)
    exactFirstOutput(nTotal, v, semDedupCensus(scaledAssignFrom(v)))
  }

  /** q118 — the full production stack in one query: exact-first collapse
    * (q117) ∘ routed assignment (q116) ∘ the shared census. This is what a
    * 100 TB run actually deploys: duplicates can't create degenerate
    * cells, and the argmin is O(√K) per row with O(√K) driver state.
    * The `q125_semantic_dedup_staged` key runs this function too. */
  def q118SemanticDedupStack(spark: SparkSession, d: String): DataFrame = {
    val (nTotal, v) = exactFirstReps(spark, d)
    exactFirstOutput(nTotal, v, semDedupCensus(routedAssignStagedFrom(v)))
  }

  /** Redefine `md` in a k-means CTE chain to the exact-dedup REPS frame
    * (the original md body becomes an unreferenced CTE that DuckDB never
    * executes — K's scalar subquery then counts reps, matching the
    * engine's rule). Shared by the q117/q118/q119 oracles. */
  private def repsChainOver(chain: String): String = chain.replace(
    "md AS (",
    """md0 AS (
      |  SELECT vec_id, e, nrm,
      |    list_transform(e, x -> round(x * 1000000.0)::BIGINT::DOUBLE) AS mud
      |  FROM v),
      |repids AS (
      |  SELECT min(vec_id) AS vec_id FROM md0 GROUP BY mud),
      |md AS (
      |  SELECT md0.* FROM md0 JOIN repids USING (vec_id)),
      |md_unused AS (""".stripMargin)

  /** The exact-first oracle: [[repsChainOver]] plus the exact scalars
    * spliced into the final SELECT, keeping the census column list
    * identical to the engine's crossJoin. */
  private def exactFirstSqlOver(chain: String): String = {
    val reChained = repsChainOver(chain)
    semDedupSqlWith(reChained).replace(
      "SELECT m.cid,",
      """SELECT
        |  (SELECT count(*) FROM md0) AS n_total,
        |  (SELECT count(*) FROM md) AS n_reps,
        |  (SELECT count(*) FROM md0) - (SELECT count(*) FROM md) AS n_exact_removed,
        |  m.cid,""".stripMargin)
  }

  /** Oracle: v/md → reps by mud-group → the flat scaled-K chain over the
    * reps (K = ⌈reps/64⌉) → the census, exact scalars cross-joined on. */
  val q117Sql: String = exactFirstSqlOver(kmeansCteSqlWithK(
    s"SELECT CAST(ceil(count(*) / $TargetCell.0) AS BIGINT) FROM md"))

  /** Oracle: the routed chain over the reps frame. (lazy: the routed CTE
    * val is declared later in the file; the registry maps at the end force
    * this after everything is initialized) */
  lazy val q118Sql: String = exactFirstSqlOver(routedKmeansCteSql)

  // ---------------------------------------------------------------------------
  // q119 — the CAPPED production stack: q118 (exact-first ∘ routed) with
  // the q86 bucket-cap discipline applied to the census. Exact-first
  // cannot collapse a dense blob of near-identical but DISTINCT vectors
  // (same story, different hashes), and any distance-based clustering
  // necessarily co-locates it — C(blob, 2) pairs that no K can split.
  // Cells above CellCap are QUARANTINED: their members verify against ONE
  // cell rep (O(members), the q91 member-vs-root pattern), reported as a
  // LOWER bound of removal with a `quarantined` flag a production run
  // alerts on.
  //
  // When does a mega-cell actually form? NOT from ordinary density:
  // md5-rank seeding is mass-proportional, so a dense blob normally draws
  // ~B/64 seeds and splits into target-size cells (measured: the 1000×
  // nearvec rehearsal produced only 644-member tail cells — q118 absorbs
  // those fine). The wall is the SEED-MISALLOCATION tail — a B-vector
  // blob draws zero seeds with probability e^(−K·B/N), and an adversarial
  // id assignment can force it — which lands ALL B members in one outside
  // cell: silent C(B, 2). The cap converts that tail event into a flagged
  // O(B) resolution; SemDedupScaledSpec engineers exactly this blob
  // (largest-md5-rank ids → provably seedless) and pins the quarantine,
  // the members−1 verification count, and small-cell equality with q118.
  private val CellCap = 256

  def q119SemanticDedupCapped(spark: SparkSession, d: String): DataFrame = {
    val (nTotal, v) = exactFirstReps(spark, d)
    exactFirstOutput(nTotal, v,
      semDedupCensusCapped(routedAssignStagedFrom(v), CellCap))
  }

  lazy val q119Sql: String = {
    s"""WITH ${repsChainOver(routedKmeansCteSql)},
      |members AS (
      |  SELECT cid, count(*) AS n_members,
      |    count(*) FILTER (WHERE c1 <> cid) AS n_moved
      |  FROM a2 GROUP BY cid),
      |smallc AS (SELECT cid FROM members WHERE n_members <= $CellCap),
      |p AS (
      |  SELECT x.cid, count(*) AS n_pairs,
      |    count(*) FILTER (WHERE cos >= 0.9) AS n_neardup_pairs,
      |    count(DISTINCT id2) FILTER (WHERE cos >= 0.9) AS n_sem_removed,
      |    round(max(cos), 4) + 0.0 AS max_cos
      |  FROM (
      |    SELECT xa.cid, xb.vec_id AS id2,
      |      round(${dotSql("xa.e", "xb.e")} / nullif(xa.nrm * xb.nrm, 0.0), 6) AS cos
      |    FROM (SELECT a2.cid, md.vec_id, md.e, md.nrm
      |          FROM a2 JOIN md USING (vec_id) JOIN smallc USING (cid)) xa
      |    JOIN (SELECT a2.cid, md.vec_id, md.e, md.nrm
      |          FROM a2 JOIN md USING (vec_id) JOIN smallc USING (cid)) xb
      |      ON xa.cid = xb.cid AND xa.vec_id < xb.vec_id) x
      |  GROUP BY x.cid),
      |bigc AS (SELECT cid FROM members WHERE n_members > $CellCap),
      |brep AS (
      |  SELECT a2.cid, min(vec_id) AS rep_id
      |  FROM a2 JOIN bigc USING (cid) GROUP BY a2.cid),
      |bp AS (
      |  SELECT q.cid, count(*) AS n_pairs,
      |    count(*) FILTER (WHERE cos >= 0.9) AS n_neardup_pairs,
      |    count(*) FILTER (WHERE cos >= 0.9) AS n_sem_removed,
      |    round(max(cos), 4) + 0.0 AS max_cos
      |  FROM (
      |    SELECT a2.cid, a2.vec_id,
      |      round(${dotSql("me.e", "mr.e")} / nullif(me.nrm * mr.nrm, 0.0), 6) AS cos
      |    FROM a2
      |    JOIN brep b ON b.cid = a2.cid AND a2.vec_id <> b.rep_id
      |    JOIN md me ON me.vec_id = a2.vec_id
      |    JOIN md mr ON mr.vec_id = b.rep_id) q
      |  GROUP BY q.cid)
      |SELECT
      |  (SELECT count(*) FROM md0) AS n_total,
      |  (SELECT count(*) FROM md) AS n_reps,
      |  (SELECT count(*) FROM md0) - (SELECT count(*) FROM md) AS n_exact_removed,
      |  m.cid, m.n_members, m.n_moved,
      |  (m.n_members > $CellCap) AS quarantined,
      |  coalesce(p.n_pairs, bp.n_pairs, 0) AS n_pairs,
      |  coalesce(p.n_neardup_pairs, bp.n_neardup_pairs, 0) AS n_neardup_pairs,
      |  coalesce(p.n_sem_removed, bp.n_sem_removed, 0) AS n_sem_removed,
      |  coalesce(p.max_cos, bp.max_cos, 0.0) AS max_cos
      |FROM members m
      |LEFT JOIN p USING (cid)
      |LEFT JOIN bp USING (cid)
      |ORDER BY m.cid""".stripMargin
  }

  /** q63's census SQL over the K-scaled k-means: the seed count is the
    * same ⌈N/64⌉ the engine computes. */
  val q113Sql: String = semDedupSqlWith(kmeansCteSqlWithK(
    s"SELECT CAST(ceil(count(*) / $TargetCell.0) AS BIGINT) FROM md"))

  /** SQL twin of [[kmeansAssignmentRouted]]: seeds(K) → coarse = first
    * ⌈√K⌉ seeds → fine-to-coarse routing (both passes) → per-vector
    * routed argmin restricted to the routed cell's fine centroids →
    * Lloyd update → routed re-assignment; the census rides on top. */
  /** Exact-integer squared distance between two micro-unit lists — the
    * shared SQL twin of the centroid kernels' arithmetic. */
  private def sqDistSql(m: String, c: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), " +
      s"i -> ($m[i] - $c[i]) * ($m[i] - $c[i])), (x, y) -> x + y)"

  /** The routed-kmeans CTE block, parameterized for the q130 lifecycle
    * oracle: `mdWhere` restricts the corpus the index is BUILT on (the
    * base slice; empty = whole corpus, the q116/q127 form), and
    * `materialize` marks the md/a2 CTEs MATERIALIZED so a downstream
    * recursive CTE does not re-evaluate the whole chain once per
    * recursion step (measured: 108 s → 1 s at sf0.01). */
  private def routedKmeansCteSqlWhere(mdWhere: String,
      materialize: Boolean = false): String = {
    val sqDist = sqDistSql _
    val mat = if (materialize) "MATERIALIZED " else ""
    s"""v AS (
      |  $withNormSql),
      |md AS $mat(
      |  SELECT vec_id, e, nrm,
      |    list_transform(e, x -> round(x * 1000000.0)::BIGINT::DOUBLE) AS mud
      |  FROM v $mdWhere),
      |seeds AS (
      |  SELECT mud, rn - 1 AS cid FROM (
      |    SELECT mud, row_number() OVER (
      |      ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id) AS rn
      |    FROM md) WHERE rn <= (SELECT CAST(ceil(count(*) / $TargetCell.0) AS BIGINT) FROM md)),
      |cs AS (
      |  SELECT cid AS ccid, mud FROM seeds
      |  WHERE cid < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM seeds)),
      |f2c1 AS (
      |  SELECT cid, ccid FROM (
      |    SELECT s.cid, c.ccid, row_number() OVER (PARTITION BY s.cid
      |      ORDER BY ${sqDist("s.mud", "c.mud")}, c.ccid) AS rn
      |    FROM seeds s CROSS JOIN cs c) WHERE rn = 1),
      |vc1 AS (
      |  SELECT vec_id, ccid FROM (
      |    SELECT md.vec_id, c.ccid, row_number() OVER (PARTITION BY md.vec_id
      |      ORDER BY ${sqDist("md.mud", "c.mud")}, c.ccid) AS rn
      |    FROM md CROSS JOIN (
      |      SELECT cs.* FROM cs WHERE ccid IN (SELECT DISTINCT ccid FROM f2c1)) c)
      |  WHERE rn = 1),
      |a1 AS (
      |  SELECT vec_id, cid AS c1 FROM (
      |    SELECT md.vec_id, s.cid, row_number() OVER (PARTITION BY md.vec_id
      |      ORDER BY ${sqDist("md.mud", "s.mud")}, s.cid) AS rn
      |    FROM md JOIN vc1 USING (vec_id)
      |    JOIN f2c1 ON f2c1.ccid = vc1.ccid
      |    JOIN seeds s ON s.cid = f2c1.cid) WHERE rn = 1),
      |sums AS (
      |  SELECT a1.c1 AS cid, t.i, sum(m2.mud[t.i])::BIGINT AS s, count(*) AS cnt
      |  FROM a1 JOIN md m2 USING (vec_id) CROSS JOIN range(1, ${Dim + 1}) t(i)
      |  GROUP BY 1, 2),
      |c2 AS (
      |  SELECT cid, list(round(s::DOUBLE / cnt)::BIGINT::DOUBLE ORDER BY i) AS cmu
      |  FROM sums GROUP BY cid),
      |c2f AS (
      |  SELECT s.cid, coalesce(c2.cmu, s.mud) AS cmu
      |  FROM seeds s LEFT JOIN c2 USING (cid)),
      |f2c2 AS (
      |  SELECT cid, ccid FROM (
      |    SELECT f.cid, c.ccid, row_number() OVER (PARTITION BY f.cid
      |      ORDER BY ${sqDist("f.cmu", "c.mud")}, c.ccid) AS rn
      |    FROM c2f f CROSS JOIN cs c) WHERE rn = 1),
      |vc2 AS (
      |  SELECT vec_id, ccid FROM (
      |    SELECT md.vec_id, c.ccid, row_number() OVER (PARTITION BY md.vec_id
      |      ORDER BY ${sqDist("md.mud", "c.mud")}, c.ccid) AS rn
      |    FROM md CROSS JOIN (
      |      SELECT cs.* FROM cs WHERE ccid IN (SELECT DISTINCT ccid FROM f2c2)) c)
      |  WHERE rn = 1),
      |a2 AS $mat(
      |  SELECT vec_id, c1, cid FROM (
      |    SELECT md.vec_id, a1.c1, f.cid, row_number() OVER (PARTITION BY md.vec_id
      |      ORDER BY ${sqDist("md.mud", "f.cmu")}, f.cid) AS rn
      |    FROM md JOIN a1 USING (vec_id)
      |    JOIN vc2 ON vc2.vec_id = md.vec_id
      |    JOIN f2c2 ON f2c2.ccid = vc2.ccid
      |    JOIN c2f f ON f.cid = f2c2.cid) WHERE rn = 1)""".stripMargin
  }

  private val routedKmeansCteSql: String = routedKmeansCteSqlWhere("")

  val q116Sql: String = semDedupSqlWith(routedKmeansCteSql)

  /** q127's oracle: the routed kmeans CTE (q116's, verbatim) under the
    * shared gate-census tail. Lazy — routedKmeansCteSql is declared above
    * but gateCensusSqlOver's enclosing-object init order still makes
    * eager cross-references fragile (the q118Sql lesson). */
  lazy val q127Sql: String = gateCensusSqlOver(routedKmeansCteSql)

  // ---------------------------------------------------------------------------
  // q76 — int8 scalar-quantized ANN (the faiss IndexScalarQuantizer/SQ8
  // production path: 4× smaller vectors, integer arithmetic in the hot
  // loop). Two-pass build exactly like production SQ training: (1) ONE
  // aggregation for per-dimension [min, max] (64 keys, map-side combined);
  // (2) a map-only encode pass against the BROADCAST 64-entry bound
  // arrays — codes c_i = clamp(⌊(x_i−mn_i)/(mx_i−mn_i)·256⌋, 0, 255).
  // Similarity is then computed entirely in EXACT BIGINT arithmetic
  // (Σ c_q·c_v ≤ 64·255² per pair): the dot products and squared norms
  // are order-insensitive integer sums, so the oracle matches bit-for-bit
  // with no rounding discipline needed until the final cosine division.
  // At 100 TB: bounds are 64 floats broadcast; codes shrink the vector
  // table 4×; probes broadcast as in q29 — the corpus never shuffles.
  def q76AnnSq8(spark: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val bounds = v
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)").as("mxs"))
    val coded = v.crossJoin(broadcast(bounds))
      .withColumn("code", expr(
        """transform(sequence(0, size(embedding) - 1), i ->
          |  CASE WHEN element_at(mxs, i + 1) > element_at(mns, i + 1)
          |  THEN least(255L, greatest(0L, CAST(floor(
          |    (CAST(element_at(embedding, i + 1) AS DOUBLE)
          |      - CAST(element_at(mns, i + 1) AS DOUBLE))
          |    / (CAST(element_at(mxs, i + 1) AS DOUBLE)
          |      - CAST(element_at(mns, i + 1) AS DOUBLE)) * 256.0) AS BIGINT)))
          |  ELSE 0L END)""".stripMargin))
      .withColumn("n2", expr(
        "aggregate(transform(code, a -> a * a), 0L, (acc, x) -> acc + x)"))
      .select(col("vec_id"), col("code"), col("n2"))
    val probes = coded.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_vec_id"), col("code").as("qc"), col("n2").as("qn2"))
    val cand = broadcast(probes).join(coded, col("vec_id") =!= col("q_vec_id"))
      .withColumn("dot8", expr(
        "aggregate(zip_with(qc, code, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
      .withColumn("cos8", round(col("dot8").cast("double") /
        nullif(sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double")),
          lit(0.0)), 6))
    val w = Window.partitionBy(col("q_vec_id")).orderBy(
      col("cos8").desc, col("vec_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_vec_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("dot8"), col("cos8"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  val q76Sql: String =
    s"""WITH dims AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |    generate_subscripts(embedding, 1) - 1 AS dim
      |  FROM embeddings),
      |bounds AS (
      |  SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim),
      |barr AS (
      |  SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
      |  FROM bounds),
      |coded AS (
      |  SELECT vec_id,
      |    list_transform(range(1, len(embedding) + 1), i ->
      |      CASE WHEN mxs[i] > mns[i]
      |      THEN least(255, greatest(0, CAST(floor(
      |        (embedding[i]::DOUBLE - mns[i]::DOUBLE)
      |        / (mxs[i]::DOUBLE - mns[i]::DOUBLE) * 256.0) AS BIGINT)))
      |      ELSE 0 END) AS code
      |  FROM embeddings, barr),
      |withn AS (
      |  SELECT vec_id, code,
      |    CAST(list_sum(list_transform(code, a -> a * a)) AS BIGINT) AS n2
      |  FROM coded),
      |c AS (
      |  SELECT q.vec_id AS q_vec_id, v.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(range(1, len(q.code) + 1),
      |      i -> q.code[i] * v.code[i])) AS BIGINT) AS dot8,
      |    q.n2 AS qn2, v.n2 AS vn2
      |  FROM withn q JOIN withn v ON q.vec_id < 8 AND v.vec_id <> q.vec_id),
      |r AS (
      |  SELECT q_vec_id, neighbor_id, dot8,
      |    round(dot8::DOUBLE / nullif(sqrt(qn2::DOUBLE) * sqrt(vn2::DOUBLE),
      |      0.0), 6) AS cos8,
      |    row_number() OVER (PARTITION BY q_vec_id ORDER BY
      |      round(dot8::DOUBLE / nullif(sqrt(qn2::DOUBLE) * sqrt(vn2::DOUBLE),
      |        0.0), 6) DESC, neighbor_id) AS rnk
      |  FROM c)
      |SELECT q_vec_id, rnk, neighbor_id, dot8, cos8
      |FROM r WHERE rnk <= 5 ORDER BY q_vec_id, rnk""".stripMargin

  // ---------------------------------------------------------------------------
  // q78 — contrastive hard-negative mining (the training-pair construction
  // step for embedding-model training: per anchor, the hardest positive =
  // nearest same-label vector, and the hard negatives = the top-3
  // most-similar DIFFERENT-label vectors — the pairs that carry gradient).
  // Same broadcast-probe shape as q29: anchors broadcast, corpus scanned
  // once, label match split inside one window pass per kind. At 100 TB the
  // mining runs per-anchor-batch against an ANN index (q30/q48/q76); the
  // exact form here is the oracle-able baseline, and the output contract
  // (anchor, kind, rnk, pair id, cos) is what a training-data writer needs.
  def q78HardNegatives(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, d)
    val anchors = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("e").as("ae"), col("nrm").as("an"))
    val cand = broadcast(anchors).join(v, col("vec_id") =!= col("anchor_id"))
      .withColumn("cos", round(dot("ae", "e") / nullif(col("an") * col("nrm"), lit(0.0)), 6))
      .withColumn("kind",
        when(col("label") === col("a_label"), lit("pos")).otherwise(lit("neg")))
    val w = Window.partitionBy(col("anchor_id"), col("kind"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter((col("kind") === "neg" && col("rnk") <= 3)
        || (col("kind") === "pos" && col("rnk") <= 1))
      .select(col("anchor_id"), col("kind"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("pair_id"), col("cos"))
      .orderBy(col("anchor_id"), col("kind"), col("rnk"))
  }

  val q78Sql: String =
    s"""WITH v AS (
      |  $withNormSql),
      |c AS (
      |  SELECT a.vec_id AS anchor_id,
      |    CASE WHEN v.label = a.label THEN 'pos' ELSE 'neg' END AS kind,
      |    v.vec_id AS pair_id,
      |    round(${dotSql("a.e", "v.e")} / nullif(a.nrm * v.nrm, 0.0), 6) AS cos
      |  FROM v a JOIN v ON a.vec_id < 8 AND v.vec_id <> a.vec_id),
      |r AS (
      |  SELECT anchor_id, kind, pair_id, cos,
      |    row_number() OVER (PARTITION BY anchor_id, kind
      |                       ORDER BY cos DESC, pair_id) AS rnk
      |  FROM c)
      |SELECT anchor_id, kind, CAST(rnk AS BIGINT) AS rnk, pair_id, cos
      |FROM r
      |WHERE (kind = 'neg' AND rnk <= 3) OR (kind = 'pos' AND rnk <= 1)
      |ORDER BY anchor_id, kind, rnk""".stripMargin

  // ---------------------------------------------------------------------------
  // q83 — ANN recall census: the SQ8 quantized index (q76) evaluated
  // against the exact brute-force top-5 (q29) as DATA — per-probe overlap
  // and the aggregate recall@5, the metric every production ANN deployment
  // monitors. Pure composition of the two oracle-checked result frames:
  // a tiny (probes × k) join, so the census costs nothing beyond its
  // inputs at any scale. Both engines compose the same two definitions,
  // making the recall itself oracle-checked — not just the indexes.
  def q83AnnRecall(spark: SparkSession, d: String): DataFrame = {
    val exact = q29AnnTopk(spark, d)
      .select(col("q_vec_id"), col("neighbor_id"))
    val sq8 = q76AnnSq8(spark, d)
      .select(col("q_vec_id").as("s_q"), col("neighbor_id").as("s_n"))
    val hits = exact.join(sq8,
        col("q_vec_id") === col("s_q") && col("neighbor_id") === col("s_n"),
        "left")
      .groupBy(col("q_vec_id"))
      .agg(count(lit(1)).as("k"), count(col("s_n")).as("n_hits"))
    val per = hits.select(col("q_vec_id"), col("k"), col("n_hits"),
      round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
    per.crossJoin(broadcast(per.agg(
        round(sum(col("n_hits")).cast("double") / sum(col("k")), 4)
          .as("overall_recall"))))
      .orderBy(col("q_vec_id"))
  }

  val q83Sql: String =
    s"""WITH exact AS (
      |  SELECT q_vec_id, neighbor_id FROM ($q29Sql)),
      |sq8 AS (
      |  SELECT q_vec_id AS s_q, neighbor_id AS s_n FROM ($q76Sql)),
      |hits AS (
      |  SELECT e.q_vec_id, count(*) AS k, count(s.s_n) AS n_hits
      |  FROM exact e LEFT JOIN sq8 s
      |    ON s.s_q = e.q_vec_id AND s.s_n = e.neighbor_id
      |  GROUP BY e.q_vec_id),
      |per AS (
      |  SELECT q_vec_id, k, n_hits,
      |    round(n_hits::DOUBLE / k, 4) AS recall
      |  FROM hits),
      |tot AS (
      |  SELECT round(sum(n_hits)::DOUBLE / sum(k), 4) AS overall_recall
      |  FROM per)
      |SELECT q_vec_id, k, n_hits, recall, overall_recall
      |FROM per, tot ORDER BY q_vec_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q103 — product-quantized ANN (the faiss IndexPQ production shape that
  // completes the index family: q29 exact / q30 LSH / q48 IVF / q76 SQ8 /
  // q103 PQ). m = 8 subspaces × k = 16 centroids → an 8-code vector (8
  // bytes vs 256 — a 32× compression of the corpus residency), asymmetric
  // distance computation (ADC): each probe carries a 128-entry exact
  // lookup table and a candidate's distance is 8 table adds.
  //
  // Training is REAL (seeds → assign → one Lloyd update per subspace →
  // re-encode), in INTEGER MICRO-UNITS like q63's k-means so every
  // distance, sum, and the final ADC ranking is exact BIGINT arithmetic on
  // both engines — the oracle is bit-for-bit with no rounding discipline.
  // Seeds are the 16 smallest (md5(vec_id), vec_id) vectors (q63's
  // deterministic-sample trick); argmin ties break on centroid index.
  //
  // Scale shape: the codebook is m·k·(Dim/m) = 1,024 longs — trained on a
  // sample (here: the full small corpus; at 100 TB a fixed-size sample),
  // collected once and BROADCAST as a literal into the two map-only encode
  // passes (q63's broadcast-centroid pattern); the Lloyd update is one
  // (s, code) groupBy with 8 map-side-combined integer lanes (≤128 result
  // rows on the driver — bounded by construction, not by data). Probes
  // broadcast their LUTs; the coded corpus is scanned once and NEVER
  // shuffles. The final stage is faiss's refine step: exact re-rank of the
  // probes×50 ADC shortlist — the only point full vectors are fetched, at
  // a cost independent of corpus size.
  private val PqM = 8
  private val PqK = 16
  private val PqSub = Dim / PqM

  // flat codebook (s·16 + j → subvector), shipped into the codegen'd
  // PqEncode/PqLut kernels as a per-task reference object — the
  // broadcast-centroid pattern with zero per-row interpretation cost
  // (the declarative transform/array_min/aggregate nesting ran three
  // interpreted-lambda levels per vector; the kernel is one tight loop
  // with the identical strict-< smaller-j tie rule)
  private def pqFlat(cbs: Array[Array[Array[Long]]]): Seq[Seq[Long]] =
    cbs.flatten.map(_.toSeq).toSeq

  // training is deterministic per corpus dir, so q103 and q106 SHARE one
  // trained codebook per dir instead of re-running the seed/Lloyd jobs
  private val pqCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Long]]]]()

  /** UNIT-normalized micro-unit vectors: q29's ranking is cosine, and on
    * the unit sphere L2² = 2 − 2·cos — so PQ's L2 machinery ranks by
    * cosine. The norm is the same sequential fold on both engines, the
    * division is one IEEE op per element, and micro-unit rounding
    * re-enters exact integer arithmetic for everything downstream. */
  private def pqMicroUnits(spark: SparkSession, d: String): DataFrame =
    withNorm(spark, d)
      .select(col("vec_id"), expr(
        """transform(e, x -> CAST(round(CAST(x AS DOUBLE) / nrm * 1000000.0)
          |  AS BIGINT))""".stripMargin).as("mud"))
      .transform(StagingRoots.persist)

  private def pqCodebook(mu: DataFrame, d: String): Array[Array[Array[Long]]] =
    pqCbCache.computeIfAbsent(d, _ => pqTrain(mu))

  /** Deterministic PQ training (shared by q103/q106): seeds = the PqK
    * smallest (md5(vec_id), vec_id) vectors; one Lloyd update per
    * (subspace, code) in exact integer lanes; empty cells keep their seed
    * (q63's rule). Collects only the seeds and the ≤ m·k update rows. */
  private def pqTrain(mu: DataFrame): Array[Array[Array[Long]]] = {
    val seeds: Array[Array[Long]] = mu
      .withColumn("hk",
        graft.functions.GraftFunctions.md5PrefixInt(col("vec_id").cast("string")))
      .orderBy(col("hk"), col("vec_id")).limit(PqK)
      .collect().map(_.getAs[scala.collection.Seq[Long]]("mud").toArray)
    val cb1 = Array.tabulate(PqM, PqK)((s, j) =>
      seeds(j).slice(s * PqSub, (s + 1) * PqSub))
    val a1 = mu.withColumn("codes",
      graft.functions.GraftFunctions.pqEncode(col("mud"), pqFlat(cb1), PqM, PqK))
    val exploded = a1
      .select(col("vec_id"), col("mud"), posexplode(col("codes")).as(Seq("s", "c")))
      .withColumn("sub", expr(s"slice(mud, s * $PqSub + 1, $PqSub)"))
    val lanes = (0 until PqSub).map(i => sum(element_at(col("sub"), i + 1)).as(s"s$i"))
    val upd = exploded.groupBy(col("s"), col("c"))
      .agg(count(lit(1)).as("cnt"), lanes: _*)
      .collect().map { r =>
        val cnt = r.getAs[Long]("cnt").toDouble
        (r.getAs[Int]("s"), r.getAs[Int]("c")) -> Array.tabulate(PqSub) { i =>
          new java.math.BigDecimal(r.getAs[Long](s"s$i") / cnt)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        }
      }.toMap
    Array.tabulate(PqM, PqK)((s, j) => upd.getOrElse((s, j), cb1(s)(j)))
  }

  /** Exact-BIGINT ADC: Σ_s lut[s·k + code_s] over the 8 codes. */
  private def adcExpr: org.apache.spark.sql.Column = expr(
    s"""aggregate(sequence(0, ${PqM - 1}), CAST(0 AS BIGINT), (a, s) ->
       |  a + element_at(lut, s * $PqK + element_at(codes, s + 1) + 1))""".stripMargin)

  def q103AnnPq(spark: SparkSession, d: String): DataFrame = {
    val mu = pqMicroUnits(spark, d)
    val cb2 = pqCodebook(mu, d)
    val coded = mu.withColumn("codes",
      graft.functions.GraftFunctions.pqEncode(col("mud"), pqFlat(cb2), PqM, PqK))
    val probes = mu.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_vec_id"),
        graft.functions.GraftFunctions.pqLut(col("mud"), pqFlat(cb2), PqM, PqK).as("lut"))
    val cand = broadcast(probes).join(coded, col("vec_id") =!= col("q_vec_id"))
      .withColumn("adc_dist", adcExpr)
    // refine (faiss IndexRefineFlat): exact cosine re-rank of the ADC
    // shortlist — only probes×50 full vectors are ever fetched, so the
    // refine cost is independent of corpus size. Measured on this fixture:
    // ADC-only recall@5 vs exact q29 is 0.15 (matches an offline numpy PQ
    // at the same m/k — intrinsic to 8×16 codes on 64-dim noise-heavy
    // vectors, not a defect); shortlist-50 + exact re-rank lifts it to
    // 0.675, the production accuracy/compression trade.
    val wAdc = Window.partitionBy(col("q_vec_id")).orderBy(col("adc_dist"), col("vec_id"))
    val shortlist = cand.withColumn("srnk", row_number().over(wAdc))
      .filter(col("srnk") <= 50)
      .select(col("q_vec_id"), col("vec_id").as("neighbor_id"), col("adc_dist"))
    val v = withNorm(spark, d)
    val qv = v.select(col("vec_id").as("q_vec_id"), col("e").as("qe"), col("nrm").as("qn"))
    val nv = v.select(col("vec_id").as("neighbor_id"), col("e").as("ne"), col("nrm").as("nn"))
    val refined = shortlist
      .join(broadcast(qv), "q_vec_id")
      .join(nv, "neighbor_id")
      .withColumn("cos", round(dot("qe", "ne") / nullif(col("qn") * col("nn"), lit(0.0)), 6))
    val w = Window.partitionBy(col("q_vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    refined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_vec_id"), col("rnk"), col("neighbor_id"), col("adc_dist"),
        col("cos"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  // SQL twins of the shared PQ pieces: sub-vector slice, sub-space L2²,
  // and the v→md→seeds→cb1→a1→sums→c2→cbf→codes training/encode chain —
  // interpolated into the q103 and q106 oracles
  private def pqDistSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${PqSub + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"

  private def pqSubOfSql(mud: String, s: String): String =
    s"list_slice($mud, $s * $PqSub + 1, $s * $PqSub + $PqSub)"

  private val pqChainSql: String = {
    val dist = pqDistSql _
    val subOf = pqSubOfSql _
    s"""v AS (
      |  $withNormSql),
      |md AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> round(x::DOUBLE / nrm * 1000000.0)::BIGINT) AS mud
      |  FROM v),
      |seeds AS (
      |  SELECT rn - 1 AS j, mud FROM (
      |    SELECT mud, row_number() OVER (
      |      ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id) AS rn
      |    FROM md) WHERE rn <= $PqK),
      |cb1 AS (
      |  SELECT t.s, seeds.j, ${subOf("mud", "t.s")} AS sub
      |  FROM seeds CROSS JOIN range(0, $PqM) t(s)),
      |a1 AS (
      |  SELECT vec_id, s, j AS c FROM (
      |    SELECT md.vec_id, cb1.s, cb1.j,
      |      row_number() OVER (PARTITION BY md.vec_id, cb1.s
      |        ORDER BY ${dist(subOf("md.mud", "cb1.s"), "cb1.sub")}, cb1.j) AS rn
      |    FROM md CROSS JOIN cb1) WHERE rn = 1),
      |sums AS (
      |  SELECT a1.s, a1.c, t.i,
      |    sum(md.mud[a1.s * $PqSub + t.i])::BIGINT AS sm, count(*) AS cnt
      |  FROM a1 JOIN md USING (vec_id) CROSS JOIN range(1, ${PqSub + 1}) t(i)
      |  GROUP BY 1, 2, 3),
      |c2 AS (
      |  SELECT s, c AS j, list(round(sm::DOUBLE / cnt)::BIGINT ORDER BY i) AS sub
      |  FROM sums GROUP BY s, c),
      |cbf AS (
      |  SELECT cb1.s, cb1.j, coalesce(c2.sub, cb1.sub) AS sub
      |  FROM cb1 LEFT JOIN c2 ON cb1.s = c2.s AND cb1.j = c2.j),
      |codes AS (
      |  SELECT vec_id, s, j AS c FROM (
      |    SELECT md.vec_id, cbf.s, cbf.j,
      |      row_number() OVER (PARTITION BY md.vec_id, cbf.s
      |        ORDER BY ${dist(subOf("md.mud", "cbf.s"), "cbf.sub")}, cbf.j) AS rn
      |    FROM md CROSS JOIN cbf) WHERE rn = 1)""".stripMargin
  }

  val q103Sql: String = {
    val dist = pqDistSql _
    val subOf = pqSubOfSql _
    s"""WITH $pqChainSql,
      |adc AS (
      |  SELECT q.vec_id AS q_vec_id, c.vec_id AS neighbor_id,
      |    CAST(sum(${dist(subOf("q.mud", "c.s"), "cbf.sub")}) AS BIGINT) AS adc_dist
      |  FROM md q
      |  JOIN codes c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
      |  JOIN cbf ON cbf.s = c.s AND cbf.j = c.c
      |  GROUP BY 1, 2),
      |short AS (
      |  SELECT q_vec_id, neighbor_id, adc_dist FROM (
      |    SELECT q_vec_id, neighbor_id, adc_dist,
      |      row_number() OVER (PARTITION BY q_vec_id
      |        ORDER BY adc_dist, neighbor_id) AS srnk
      |    FROM adc) WHERE srnk <= 50),
      |ref AS (
      |  SELECT s.q_vec_id, s.neighbor_id, s.adc_dist,
      |    round(${dotSql("q.e", "n.e")} / nullif(q.nrm * n.nrm, 0.0), 6) AS cos
      |  FROM short s
      |  JOIN v q ON q.vec_id = s.q_vec_id
      |  JOIN v n ON n.vec_id = s.neighbor_id),
      |r AS (
      |  SELECT q_vec_id, neighbor_id, adc_dist, cos,
      |    row_number() OVER (PARTITION BY q_vec_id
      |      ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM ref)
      |SELECT q_vec_id, rnk, neighbor_id, adc_dist, cos
      |FROM r WHERE rnk <= 5 ORDER BY q_vec_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q106 — IVF-PQ (the faiss IndexIVFPQ composition that caps the index
  // family): q48's coarse-quantizer idea (8 fixed-seed cells) prunes the
  // search to the probe's nprobe=2 nearest cells, q103's trained PQ codes
  // give ADC distances inside them, and the exact refine re-ranks the
  // shortlist. Cell assignment and probe-cell ranking reuse the SAME
  // codegen'd kernels as PQ encoding — the full 64-dim vector is one
  // "subspace" with k=8 centroids (PqEncode(m=1,k=8) = nearest cell,
  // PqLut(m=1,k=8) = all 8 cell distances).
  //
  // Honesty note: codes are GLOBAL (faiss by_residual=false), not
  // per-cell residual codes — q114 ships the residual variant
  // (by_residual=true, trained coarse quantizer) on the same plan with a
  // per-(probe, cell) LUT, measured recall@5 0.40 vs this query's 0.35 —
  // the nprobe=2 reachability ceiling. Scale shape: everything
  // q103 says, plus the candidate scan shrinks to the probed cells'
  // inverted lists — the join key is the 3-bit cell id, probes (with
  // their LUTs) broadcast. Measured recall@5 vs exact q29 at sf0.01:
  // 0.35 (vs q103's 0.675 full-scan PQ+refine) — nprobe=2/8 prunes ~75%
  // of the corpus and pays for it in recall on these near-orthogonal
  // vectors; production tunes nprobe against that curve.
  def q106AnnIvfPq(spark: SparkSession, d: String): DataFrame = {
    val mu = pqMicroUnits(spark, d)
    val cb2 = pqCodebook(mu, d)
    // coarse cells: the q48 fixed-seed centroids (ascending vec_id = cell id)
    val cellCb: Seq[Seq[Long]] = mu
      .filter(col("vec_id").isInCollection(centroidIds))
      .orderBy(col("vec_id")).collect()
      .map(_.getAs[scala.collection.Seq[Long]]("mud").toSeq).toSeq
    val nCells = cellCb.length
    val celled = mu
      .withColumn("codes",
        graft.functions.GraftFunctions.pqEncode(col("mud"), pqFlat(cb2), PqM, PqK))
      .withColumn("cell", element_at(
        graft.functions.GraftFunctions.pqEncode(col("mud"), cellCb, 1, nCells), 1))
    val probes = mu.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_vec_id"),
        graft.functions.GraftFunctions.pqLut(col("mud"), pqFlat(cb2), PqM, PqK).as("lut"),
        posexplode(graft.functions.GraftFunctions.pqLut(col("mud"), cellCb, 1, nCells))
          .as(Seq("cell", "cd")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_vec_id")).orderBy(col("cd"), col("cell"))))
      .filter(col("crnk") <= 2)
      .select(col("q_vec_id"), col("cell"), col("lut"))
    val cand = broadcast(probes).join(celled, Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .withColumn("adc_dist", adcExpr)
    val wAdc = Window.partitionBy(col("q_vec_id")).orderBy(col("adc_dist"), col("vec_id"))
    val shortlist = cand.withColumn("srnk", row_number().over(wAdc))
      .filter(col("srnk") <= 50)
      .select(col("q_vec_id"), col("vec_id").as("neighbor_id"), col("cell"),
        col("adc_dist"))
    val v = withNorm(spark, d)
    val qv = v.select(col("vec_id").as("q_vec_id"), col("e").as("qe"), col("nrm").as("qn"))
    val nv = v.select(col("vec_id").as("neighbor_id"), col("e").as("ne"), col("nrm").as("nn"))
    val refined = shortlist
      .join(broadcast(qv), "q_vec_id")
      .join(nv, "neighbor_id")
      .withColumn("cos", round(dot("qe", "ne") / nullif(col("qn") * col("nn"), lit(0.0)), 6))
    val w = Window.partitionBy(col("q_vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    refined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_vec_id"), col("rnk"), col("neighbor_id"), col("cell"),
        col("adc_dist"), col("cos"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  // ---------------------------------------------------------------------------
  // q114 — IVF-PQ with RESIDUAL codes (faiss IndexIVFPQ's default,
  // by_residual=true — the accuracy upgrade q106 documents): each vector's
  // PQ code encodes (mud − cell_centroid), so the 16 centroids per
  // subspace only have to cover the WITHIN-cell spread instead of the
  // whole sphere; at query time each probed cell gets its own LUT built
  // on the probe's residual against THAT cell. Same training discipline
  // (md5-rank seeds over the residual frame, one integer Lloyd pass,
  // empty cells keep seeds), same nprobe=2 pruning, shortlist-50 exact
  // refine, and the same exact-BIGINT arithmetic end-to-end (residual
  // diffs ≤ ~2e6 → sub-distances ≤ ~1.3e14, Long-exact on both engines).
  // Scale shape: q106's verbatim — the only addition is a per-(probe,
  // cell) LUT (nprobe rows per probe, still broadcast) and one map-only
  // residual projection behind the same broadcast centroid table.
  // Measured recall@5 vs exact q29 at the same nprobe=2, pinned at BOTH
  // fixtures in PqAnnSpec: 0.40 vs q106's 0.375 on the 500-vector corpus
  // (sf0.001 ≡ sf0.01 embeddings — 0.40 is that fixture's reachability
  // ceiling), 0.35 vs 0.325 at sf0.1 (2,000 vectors, 31 cells).
  private val pqResCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Long]]]]()
  private val pqResCellCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Long]]]()

  /** (vec_id, cell, rud): coarse cell + residual micro-units. */
  private def pqResiduals(spark: SparkSession, d: String, cellCb: Seq[Seq[Long]]): DataFrame =
    pqMicroUnits(spark, d)
      .withColumn("cell", element_at(
        graft.functions.GraftFunctions.pqEncode(col("mud"), cellCb, 1, cellCb.length), 1))
      .withColumn("__cells", typedLit(cellCb))
      .withColumn("rud", expr(
        "transform(mud, (x, i) -> x - element_at(element_at(__cells, cell + 1), CAST(i + 1 AS INT)))"))
      .drop("__cells")

  /** TRAINED coarse quantizer: one integer Lloyd pass over the q48 seed
    * cells. by_residual only pays when cells are MEANS — residuals against
    * raw seed VECTORS on near-orthogonal data have ~√2 the spread of the
    * data itself (measured: recall@5 0.30, i.e. WORSE than q106's global
    * 0.375); against trained means the within-cell spread is what the 16
    * centroids/subspace have to cover. Exactly faiss: IndexIVFPQ trains
    * its coarse quantizer with k-means before residual encoding. */
  private def trainedCells(spark: SparkSession, d: String): Seq[Seq[Long]] =
    pqResCellCache.computeIfAbsent(d, _ => {
      val mu = pqMicroUnits(spark, d)
      val seeds: Seq[Seq[Long]] = mu
        .filter(col("vec_id").isInCollection(centroidIds))
        .orderBy(col("vec_id")).collect()
        .map(_.getAs[scala.collection.Seq[Long]]("mud").toSeq).toSeq
      val a1 = mu.withColumn("cell", element_at(
        graft.functions.GraftFunctions.pqEncode(col("mud"), seeds, 1, seeds.length), 1))
      val lanes = (0 until Dim).map(i =>
        sum(element_at(col("mud"), i + 1)).as(s"s$i"))
      val sums = a1.groupBy(col("cell"))
        .agg(count(lit(1)).as("cnt"), lanes: _*)
        .collect().map { r =>
          val cnt = r.getAs[Long]("cnt").toDouble
          r.getAs[Int]("cell") -> (0 until Dim).map { i =>
            new java.math.BigDecimal(r.getAs[Long](s"s$i") / cnt)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
          }
        }.toMap
      seeds.indices.map(c => sums.getOrElse(c, seeds(c)).toSeq)
    })

  def q114AnnIvfPqResidual(spark: SparkSession, d: String): DataFrame = {
    val mu = pqMicroUnits(spark, d)
    val cellCb: Seq[Seq[Long]] = trainedCells(spark, d)
    val nCells = cellCb.length
    val res = pqResiduals(spark, d, cellCb)
    val resCb = pqResCbCache.computeIfAbsent(d, _ =>
      pqTrain(res.select(col("vec_id"), col("rud").as("mud"))))
    val celled = res.withColumn("codes",
      graft.functions.GraftFunctions.pqEncode(col("rud"), pqFlat(resCb), PqM, PqK))
      .select(col("vec_id"), col("cell"), col("codes"))
    // per-(probe, cell) LUT on the probe's residual against THAT cell
    val probes = mu.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_vec_id"), col("mud"),
        posexplode(graft.functions.GraftFunctions.pqLut(col("mud"), cellCb, 1, nCells))
          .as(Seq("cell", "cd")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_vec_id")).orderBy(col("cd"), col("cell"))))
      .filter(col("crnk") <= 2)
      .withColumn("__cells", typedLit(cellCb))
      .withColumn("qrud", expr(
        "transform(mud, (x, i) -> x - element_at(element_at(__cells, cell + 1), CAST(i + 1 AS INT)))"))
      .select(col("q_vec_id"), col("cell"),
        graft.functions.GraftFunctions.pqLut(col("qrud"), pqFlat(resCb), PqM, PqK).as("lut"))
    val cand = broadcast(probes).join(celled, Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .withColumn("adc_dist", adcExpr)
    val wAdc = Window.partitionBy(col("q_vec_id")).orderBy(col("adc_dist"), col("vec_id"))
    val shortlist = cand.withColumn("srnk", row_number().over(wAdc))
      .filter(col("srnk") <= 50)
      .select(col("q_vec_id"), col("vec_id").as("neighbor_id"), col("cell"),
        col("adc_dist"))
    val v = withNorm(spark, d)
    val qv = v.select(col("vec_id").as("q_vec_id"), col("e").as("qe"), col("nrm").as("qn"))
    val nv = v.select(col("vec_id").as("neighbor_id"), col("e").as("ne"), col("nrm").as("nn"))
    val refined = shortlist
      .join(broadcast(qv), "q_vec_id")
      .join(nv, "neighbor_id")
      .withColumn("cos", round(dot("qe", "ne") / nullif(col("qn") * col("nn"), lit(0.0)), 6))
    val w = Window.partitionBy(col("q_vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    refined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_vec_id"), col("rnk"), col("neighbor_id"), col("cell"),
        col("adc_dist"), col("cos"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  val q106Sql: String = {
    val dist = pqDistSql _
    val subOf = pqSubOfSql _
    val fullDist = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, ${Dim + 1}), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
    val cids = centroidIds.mkString(", ")
    s"""WITH $pqChainSql,
      |cellcb AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, mud
      |  FROM md WHERE vec_id IN ($cids)),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT md.vec_id, cc.cell,
      |      row_number() OVER (PARTITION BY md.vec_id
      |        ORDER BY ${fullDist("md.mud", "cc.mud")}, cc.cell) AS rn
      |    FROM md CROSS JOIN cellcb cc) WHERE rn = 1),
      |pc AS (
      |  SELECT q_vec_id, cell FROM (
      |    SELECT md.vec_id AS q_vec_id, cc.cell,
      |      row_number() OVER (PARTITION BY md.vec_id
      |        ORDER BY ${fullDist("md.mud", "cc.mud")}, cc.cell) AS rn
      |    FROM md CROSS JOIN cellcb cc WHERE md.vec_id < 8) WHERE rn <= 2),
      |adc AS (
      |  SELECT q.vec_id AS q_vec_id, c.vec_id AS neighbor_id, a.cell,
      |    CAST(sum(${dist(subOf("q.mud", "c.s"), "cbf.sub")}) AS BIGINT) AS adc_dist
      |  FROM md q
      |  JOIN codes c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
      |  JOIN assign a ON a.vec_id = c.vec_id
      |  JOIN pc ON pc.q_vec_id = q.vec_id AND pc.cell = a.cell
      |  JOIN cbf ON cbf.s = c.s AND cbf.j = c.c
      |  GROUP BY 1, 2, 3),
      |short AS (
      |  SELECT q_vec_id, neighbor_id, cell, adc_dist FROM (
      |    SELECT q_vec_id, neighbor_id, cell, adc_dist,
      |      row_number() OVER (PARTITION BY q_vec_id
      |        ORDER BY adc_dist, neighbor_id) AS srnk
      |    FROM adc) WHERE srnk <= 50),
      |ref AS (
      |  SELECT s.q_vec_id, s.neighbor_id, s.cell, s.adc_dist,
      |    round(${dotSql("q.e", "n.e")} / nullif(q.nrm * n.nrm, 0.0), 6) AS cos
      |  FROM short s
      |  JOIN v q ON q.vec_id = s.q_vec_id
      |  JOIN v n ON n.vec_id = s.neighbor_id),
      |r AS (
      |  SELECT q_vec_id, neighbor_id, cell, adc_dist, cos,
      |    row_number() OVER (PARTITION BY q_vec_id
      |      ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM ref)
      |SELECT q_vec_id, rnk, neighbor_id, cell, adc_dist, cos
      |FROM r WHERE rnk <= 5 ORDER BY q_vec_id, rnk""".stripMargin
  }

  /** SQL twin of [[q114AnnIvfPqResidual]]: q106's cell machinery + a
    * residual frame `rmd`, the residual-trained codebook chain
    * (rseeds → rcb1 → ra1 → rsums → rc2 → rcbf → rcodes — pqChainSql's
    * shape over residuals), per-(probe, cell) residual LUTs, and the
    * shared shortlist/refine tail. The unused global-codebook CTEs from
    * pqChainSql are never referenced, so DuckDB does not execute them. */
  val q114Sql: String = {
    val dist = pqDistSql _
    val subOf = pqSubOfSql _
    val fullDist = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, ${Dim + 1}), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
    val cids = centroidIds.mkString(", ")
    s"""WITH $pqChainSql,
      |cellcb0 AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, mud
      |  FROM md WHERE vec_id IN ($cids)),
      |ca1 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT md.vec_id, cc.cell,
      |      row_number() OVER (PARTITION BY md.vec_id
      |        ORDER BY ${fullDist("md.mud", "cc.mud")}, cc.cell) AS rn
      |    FROM md CROSS JOIN cellcb0 cc) WHERE rn = 1),
      |csums AS (
      |  SELECT ca1.cell, t.i, sum(md.mud[t.i])::BIGINT AS s, count(*) AS cnt
      |  FROM ca1 JOIN md USING (vec_id) CROSS JOIN range(1, ${Dim + 1}) t(i)
      |  GROUP BY 1, 2),
      |cc2 AS (
      |  SELECT cell, list(round(s::DOUBLE / cnt)::BIGINT ORDER BY i) AS mud
      |  FROM csums GROUP BY cell),
      |cellcb AS (
      |  SELECT c0.cell, coalesce(cc2.mud, c0.mud) AS mud
      |  FROM cellcb0 c0 LEFT JOIN cc2 USING (cell)),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT md.vec_id, cc.cell,
      |      row_number() OVER (PARTITION BY md.vec_id
      |        ORDER BY ${fullDist("md.mud", "cc.mud")}, cc.cell) AS rn
      |    FROM md CROSS JOIN cellcb cc) WHERE rn = 1),
      |rmd AS (
      |  SELECT md.vec_id, a.cell,
      |    list_transform(range(1, ${Dim + 1}), i -> md.mud[i] - cc.mud[i]) AS rud
      |  FROM md JOIN assign a USING (vec_id) JOIN cellcb cc ON cc.cell = a.cell),
      |rseeds AS (
      |  SELECT rn - 1 AS j, rud FROM (
      |    SELECT rud, row_number() OVER (
      |      ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id) AS rn
      |    FROM rmd) WHERE rn <= $PqK),
      |rcb1 AS (
      |  SELECT t.s, rseeds.j, ${subOf("rud", "t.s")} AS sub
      |  FROM rseeds CROSS JOIN range(0, $PqM) t(s)),
      |ra1 AS (
      |  SELECT vec_id, s, j AS c FROM (
      |    SELECT rmd.vec_id, rcb1.s, rcb1.j,
      |      row_number() OVER (PARTITION BY rmd.vec_id, rcb1.s
      |        ORDER BY ${dist(subOf("rmd.rud", "rcb1.s"), "rcb1.sub")}, rcb1.j) AS rn
      |    FROM rmd CROSS JOIN rcb1) WHERE rn = 1),
      |rsums AS (
      |  SELECT ra1.s, ra1.c, t.i,
      |    sum(rmd.rud[ra1.s * $PqSub + t.i])::BIGINT AS sm, count(*) AS cnt
      |  FROM ra1 JOIN rmd USING (vec_id) CROSS JOIN range(1, ${PqSub + 1}) t(i)
      |  GROUP BY 1, 2, 3),
      |rc2 AS (
      |  SELECT s, c AS j, list(round(sm::DOUBLE / cnt)::BIGINT ORDER BY i) AS sub
      |  FROM rsums GROUP BY s, c),
      |rcbf AS (
      |  SELECT rcb1.s, rcb1.j, coalesce(rc2.sub, rcb1.sub) AS sub
      |  FROM rcb1 LEFT JOIN rc2 ON rcb1.s = rc2.s AND rcb1.j = rc2.j),
      |rcodes AS (
      |  SELECT vec_id, s, j AS c FROM (
      |    SELECT rmd.vec_id, rcbf.s, rcbf.j,
      |      row_number() OVER (PARTITION BY rmd.vec_id, rcbf.s
      |        ORDER BY ${dist(subOf("rmd.rud", "rcbf.s"), "rcbf.sub")}, rcbf.j) AS rn
      |    FROM rmd CROSS JOIN rcbf) WHERE rn = 1),
      |pc AS (
      |  SELECT q_vec_id, cell FROM (
      |    SELECT md.vec_id AS q_vec_id, cc.cell,
      |      row_number() OVER (PARTITION BY md.vec_id
      |        ORDER BY ${fullDist("md.mud", "cc.mud")}, cc.cell) AS rn
      |    FROM md CROSS JOIN cellcb cc WHERE md.vec_id < 8) WHERE rn <= 2),
      |qr AS (
      |  SELECT pc.q_vec_id, pc.cell,
      |    list_transform(range(1, ${Dim + 1}), i -> md.mud[i] - cc.mud[i]) AS qrud
      |  FROM pc JOIN md ON md.vec_id = pc.q_vec_id
      |  JOIN cellcb cc ON cc.cell = pc.cell),
      |adc AS (
      |  SELECT qr.q_vec_id, c.vec_id AS neighbor_id, qr.cell,
      |    CAST(sum(${dist(subOf("qr.qrud", "c.s"), "rcbf.sub")}) AS BIGINT) AS adc_dist
      |  FROM qr
      |  JOIN assign a ON a.cell = qr.cell
      |  JOIN rcodes c ON c.vec_id = a.vec_id AND c.vec_id <> qr.q_vec_id
      |  JOIN rcbf ON rcbf.s = c.s AND rcbf.j = c.c
      |  GROUP BY 1, 2, 3),
      |short AS (
      |  SELECT q_vec_id, neighbor_id, cell, adc_dist FROM (
      |    SELECT q_vec_id, neighbor_id, cell, adc_dist,
      |      row_number() OVER (PARTITION BY q_vec_id
      |        ORDER BY adc_dist, neighbor_id) AS srnk
      |    FROM adc) WHERE srnk <= 50),
      |ref AS (
      |  SELECT s.q_vec_id, s.neighbor_id, s.cell, s.adc_dist,
      |    round(${dotSql("q.e", "n.e")} / nullif(q.nrm * n.nrm, 0.0), 6) AS cos
      |  FROM short s
      |  JOIN v q ON q.vec_id = s.q_vec_id
      |  JOIN v n ON n.vec_id = s.neighbor_id),
      |r AS (
      |  SELECT q_vec_id, neighbor_id, cell, adc_dist, cos,
      |    row_number() OVER (PARTITION BY q_vec_id
      |      ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM ref)
      |SELECT q_vec_id, rnk, neighbor_id, cell, adc_dist, cos
      |FROM r WHERE rnk <= 5 ORDER BY q_vec_id, rnk""".stripMargin
  }

  val all: Map[String, Q] = Map(
    "q103_ann_pq" -> (q103AnnPq _),
    "q106_ann_ivfpq" -> (q106AnnIvfPq _),
    "q114_ann_ivfpq_residual" -> (q114AnnIvfPqResidual _),
    "q83_ann_recall" -> (q83AnnRecall _),
    "q28_embedding_neardup" -> (q28EmbeddingNeardup _),
    "q29_ann_topk" -> (q29AnnTopk _),
    "q30_ann_lsh" -> (q30AnnLsh _),
    "q48_ann_ivf" -> (q48AnnIvf _),
    "q63_semantic_dedup" -> (q63SemanticDedup _),
    "q113_semantic_dedup_scaled" -> (q113SemanticDedupScaled _),
    "q116_semantic_dedup_routed" -> (q116SemanticDedupRouted _),
    "q117_semantic_dedup_exact_first" -> (q117SemanticDedupExactFirst _),
    "q118_semantic_dedup_stack" -> (q118SemanticDedupStack _),
    "q125_semantic_dedup_staged" -> (q118SemanticDedupStack _),
    "q126_semantic_gate_census" -> (q126SemanticGateCensus _),
    "q127_semantic_gate_routed" -> (q127SemanticGateRoutedCensus _),
    "q129_semantic_gate_staged" -> (q127SemanticGateRoutedCensus _),
    "q130_semantic_index_append" -> (q130SemanticIndexAppendCensus _),
    "q119_semantic_dedup_capped" -> (q119SemanticDedupCapped _),
    "q90_diversity_sample" -> (q90DiversitySample _),
    "q76_ann_sq8" -> (q76AnnSq8 _),
    "q78_hard_negatives" -> (q78HardNegatives _))

  val oracles: Map[String, String] = Map(
    "q28_embedding_neardup" -> q28Sql,
    "q29_ann_topk" -> q29Sql,
    "q30_ann_lsh" -> q30Sql,
    "q48_ann_ivf" -> q48Sql,
    "q63_semantic_dedup" -> q63Sql,
    "q113_semantic_dedup_scaled" -> q113Sql,
    "q116_semantic_dedup_routed" -> q116Sql,
    "q117_semantic_dedup_exact_first" -> q117Sql,
    "q118_semantic_dedup_stack" -> q118Sql,
    "q125_semantic_dedup_staged" -> q118Sql,
    "q126_semantic_gate_census" -> q126Sql,
    "q127_semantic_gate_routed" -> q127Sql,
    "q129_semantic_gate_staged" -> q127Sql,
    "q130_semantic_index_append" -> q130Sql,
    "q119_semantic_dedup_capped" -> q119Sql,
    "q90_diversity_sample" -> q90Sql,
    "q76_ann_sq8" -> q76Sql,
    "q78_hard_negatives" -> q78Sql,
    "q83_ann_recall" -> q83Sql,
    "q103_ann_pq" -> q103Sql,
    "q106_ann_ivfpq" -> q106Sql,
    "q114_ann_ivfpq_residual" -> q114Sql)
}
