package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import TextOps.{md5Int, md5IntSql}

/** Near-duplicate detection over `documents`: n-gram Jaccard (blocked
  * pairwise), MinHash+LSH (the scale path), and SimHash signatures.
  *
  * Scale design notes (the quadratic/linear split is the whole point):
  *  - q25 (pairwise Jaccard) is O(B²) within a block — correct as a
  *    verifier and for small blocks, never the 100 TB driver.
  *  - q26 (MinHash+LSH) is the linear-shuffle path: per-doc signature
  *    computation is a projection; candidate generation shuffles only
  *    (band, band_key, doc_id) tuples — tiny vs the corpus — and bucket
  *    sizes bound the pair blow-up. This is exactly the shape that holds at
  *    1000 executors: signatures map-side, one shuffle on band keys.
  *  - q27 (SimHash) is pure projection (no shuffle at all); candidate
  *    pairing would reuse the q26 band-join shape on signature prefixes.
  *
  * All hashing is the shared md5-based 32-bit integer hash (TextOps.md5Int)
  * spelled out identically in DuckDB oracle SQL, so every signature is
  * bit-comparable across engines.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  /** doc_id + the HASHED distinct word-2-shingle set (sorted md5-32
    * longs) — the unit of Jaccard/MinHash across the whole dedup family.
    * Sorted: every pairwise Jaccard downstream is one long-merge walk
    * (SortedIntersectCount) instead of a per-pair hash-set build. Hashed:
    * a shingle travels as 8 bytes through every block shuffle and the
    * persisted frames (vs ~15-char strings — the q49 verify join spilled
    * 21 GB in the string form at the 10× rehearsal). Jaccard over distinct
    * hashes equals Jaccard over distinct strings absent 32-bit collisions
    * within one pair's union (~10⁻⁶ at 10³ shingles), and both engines
    * hash identically (TextOps.md5Int ≡ md5IntSql), so the cross-engine
    * compare is exact either way. The string set (WordBigrams) remains
    * available for text ops that need the literal shingles. */
  private def withShingleSet(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .withColumn("shset", graft.functions.GraftFunctions.hashedWordBigrams(col("text")))

  /** Exact Jaccard of two sorted distinct shingle sets:
    * |A∩B| / (|A|+|B|−|A∩B|) — same integers, same double division as the
    * array_intersect/array_union form, via one merge walk. */
  private def jaccard(s1: Column, s2: Column): Column = {
    val inter = graft.functions.GraftFunctions.sortedIntersectCount(s1, s2)
    inter.cast("double") / (size(s1) + size(s2) - inter).cast("double")
  }

  private val shingleSetSql: String =
    s"""SELECT doc_id, lang, source,
      |    list_sort(list_distinct(list_transform(
      |      list_transform(
      |        range(1, greatest(len(tok) - 1, 1) + 1),
      |        i -> array_to_string(list_slice(tok, i, i + 1), ' ')),
      |      sh -> ${md5IntSql("sh")}))) AS shset
      |  FROM (SELECT doc_id, lang, source, ${TextOps.tokensSql("text")} AS tok FROM documents)""".stripMargin

  // ---------------------------------------------------------------------------
  // q25 — n-gram (word-bigram) Jaccard similarity, blocked by (lang, source):
  // top-10 most similar pairs per lang. Jaccard = |A∩B| / |A∪B| on distinct
  // shingle sets — exact rational arithmetic, so the cross-engine ordering
  // is deterministic (ties broken by doc ids).
  //
  // Blocking on (lang, source) instead of lang alone cuts the pair count
  // ~20× (near-dups overwhelmingly share a source); the quadratic term is
  // then bounded per block, which is what keeps this shape viable as blocks
  // scale — anything cross-block belongs to the LSH path (q26).
  // Pair-stage parallelism is EXPLICIT (salt + repartition), not an
  // accident of input splits: a small parquet reads as one split, and if
  // the planner then broadcasts the other side there is no shuffle
  // anywhere — the entire O(B²) stage lands on ONE task (observed at the
  // 10× rehearsal: 32 cores, 1 busy). Salting doc_id_1 into nSalt cells
  // and replicating the right side per salt keeps every pair exactly once
  // while spreading each (lang, source) block across nSalt tasks — the
  // block count no longer caps parallelism, and the repartition pins the
  // probe side to shuffle.partitions regardless of join strategy.
  private val PairSalt = 8

  def q25NgramJaccard(spark: SparkSession, d: String): DataFrame = {
    val docs = withShingleSet(spark, d).select(
      col("lang"), col("source"), col("doc_id"), col("shset"))
    val a = docs.select(col("lang"), col("source"),
      col("doc_id").as("doc_id_1"), col("shset").as("s1"))
      .withColumn("salt", pmod(col("doc_id_1"), lit(PairSalt)))
      .repartition(col("lang"), col("source"), col("salt"))
    val b = docs.select(col("lang").as("lang_b"), col("source").as("source_b"),
      col("doc_id").as("doc_id_2"), col("shset").as("s2"))
      .withColumn("salt_b", explode(array((0 until PairSalt).map(lit): _*)))
    val pairs = a.join(b,
      col("lang") === col("lang_b") && col("source") === col("source_b") &&
        col("salt") === col("salt_b") && col("doc_id_1") < col("doc_id_2"))
      .withColumn("jac", jaccard(col("s1"), col("s2")))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("jac").desc, col("doc_id_1"), col("doc_id_2"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("doc_id_1"), col("doc_id_2"),
        round(col("jac"), 4).as("jaccard"))
      .orderBy(col("lang"), col("rnk"))
  }

  val q25Sql: String =
    s"""WITH s AS (
      |  $shingleSetSql),
      |p AS (
      |  SELECT a.lang, a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
      |    len(list_intersect(a.shset, b.shset))::DOUBLE /
      |      len(list_distinct(list_concat(a.shset, b.shset)))::DOUBLE AS jac
      |  FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source
      |                   AND a.doc_id < b.doc_id),
      |r AS (
      |  SELECT lang, doc_id_1, doc_id_2, jac,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY jac DESC, doc_id_1, doc_id_2) AS rnk
      |  FROM p)
      |SELECT lang, rnk, doc_id_1, doc_id_2, round(jac, 4) AS jaccard
      |FROM r WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin

  // ---------------------------------------------------------------------------
  // q26 — MinHash + LSH banding census: 16 minhashes per doc from the
  // shingle hash set via (a_j·h + b_j) mod P, banded 8×2; per band we count
  // buckets, the max bucket population, and the candidate pairs the band
  // contributes (Σ C(n,2) over buckets). Integer-exact output.
  private val P = 2147483647L // 2^31 − 1

  // Plan shape: explode the distinct-shingle set and compute all 16 minhash
  // lanes as codegen'd min() aggregates over one hash column — a single
  // partial/final hash aggregation (tokens of a doc are co-partitioned, so
  // the shuffle carries ~1 row × 16 longs per doc). The earlier form —
  // nested transform/array_min lambdas per row — evaluated interpreted
  // (higher-order functions skip whole-stage codegen) and was ~10× slower.
  def q26MinhashLsh(spark: SparkSession, d: String): DataFrame = {
    val hashed = withShingleSet(spark, d)
      .select(col("doc_id"), explode(col("shset")).as("h"))
    val lanes = (0 until 16).map(j =>
      min((col("h") * lit(2L * j + 1) + lit(j * 104729L)) % lit(P)).as(s"m$j"))
    val sigs = hashed.groupBy(col("doc_id")).agg(lanes.head, lanes.tail: _*)
    val bandStructs = array((0 until 8).map(b =>
      struct(lit(b).as("band"),
        concat(col(s"m${2 * b}").cast("string"), lit("_"),
          col(s"m${2 * b + 1}").cast("string")).as("band_key"))): _*)
    val bands = sigs.select(explode(bandStructs).as("bk"))
      .select(col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val buckets = bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("cnt"))
    buckets.groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("cnt")).as("max_bucket"),
        sum(expr("(cnt * (cnt - 1)) div 2")).as("n_candidate_pairs"))
      .orderBy(col("band"))
  }

  val q26Sql: String =
    s"""WITH s AS (
      |  $shingleSetSql),
      |sig AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      shset, h -> ((j*2 + 1) * h + j*104729) % $P))) AS sig
      |  FROM s),
      |bands AS (
      |  SELECT doc_id, g.band,
      |    concat(sig[g.band*2 + 1], '_', sig[g.band*2 + 2]) AS band_key
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) g),
      |buckets AS (
      |  SELECT band, band_key, count(*) AS cnt FROM bands GROUP BY 1, 2)
      |SELECT band, count(*) AS n_buckets, max(cnt) AS max_bucket,
      |  CAST(sum((cnt * (cnt - 1)) // 2) AS BIGINT) AS n_candidate_pairs
      |FROM buckets GROUP BY band ORDER BY band""".stripMargin

  // ---------------------------------------------------------------------------
  // q27 — SimHash: 32-bit signature per document from token hashes (token
  // multiplicity = weight). Bit j of the signature is the sign of
  // Σ_tokens (±1 by bit j of the token hash). Pure projection; candidate
  // pairing reuses the LSH band join on signature prefixes at scale.
  // Plan shape: explode tokens, then 32 conditional-sum aggregates (one per
  // signature bit) in a single codegen'd hash aggregation — bit j of the
  // signature is the sign of Σ±1 over token-hash bit j, multiplicity kept
  // by the explode. Map-side partial aggregation collapses each doc back to
  // one row of 32 longs before the shuffle. The earlier nested
  // aggregate-inside-transform form rescanned the token array once per bit
  // in interpreted mode (HOFs skip codegen) and cost ~3.5 ms/doc.
  def q27Simhash(spark: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h", md5Int(col("tok")))
    val bitSums = (0 until 32).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1, 1L)
        .otherwise(-1L)).as(s"b$j"))
    toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), bitSums: _*)
      .withColumn("simhash",
        (0 until 32).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _))
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        col("simhash"))
      .orderBy(col("doc_id"))
  }

  val q27Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${TextOps.tokensSql("text")} AS tok FROM documents),
      |h AS (
      |  SELECT doc_id, len(tok) AS n_tokens,
      |    list_transform(tok, tk -> ${md5IntSql("tk")}) AS th
      |  FROM t)
      |SELECT doc_id, n_tokens,
      |  CAST(list_sum(list_transform(range(0, 32), j -> CASE WHEN
      |      list_sum(list_transform(th, hh -> CASE WHEN
      |        (hh // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
      |    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
      |FROM h ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q49 — the composed dedup PIPELINE, end to end: exact dedup (md5 text
  // census, keep min doc_id per hash) → MinHash signatures on the
  // survivors → LSH band buckets → DISTINCT candidate pairs → true-Jaccard
  // verification (≥ 0.5) → greedy removal (drop the higher doc_id of each
  // verified pair) → one census row. This is the canonical 100 TB
  // training-data shape: every stage is a projection or an equi-shuffle on
  // small keys; the only pairwise work is on LSH candidates, never the
  // corpus. Output is integer counts + an order-independent max, so
  // cross-engine parity is exact.
  //
  // Scale note: the census is a SINGLE aggregate pass over the scored
  // candidate frame (candidate count, verified count, max Jaccard and
  // distinct-removed all as filtered aggregates of one scan), so the
  // expensive tokenize→shingle→minhash→band→join chain is evaluated
  // exactly once per run. `reps`/`shingled` are persisted because the
  // verify join scans the shingle frame from both sides; at 100 TB the
  // same two frames are what you'd checkpoint between stages.
  private val JaccardThreshold = 0.5

  /** (doc_id, band, band_key) from a (doc_id, shset) frame: `nLanes`
    * minhash lanes via (2j+1)·h + j·104729 mod P, grouped `perBand` lanes
    * per band. One explode + one codegen'd min-lane aggregation (the
    * shuffle carries one row × nLanes longs per doc); shared by the q26/q49
    * chain (16×2), q86 (48×3), and the q88 incremental index. */
  private def minhashBands(shingled: DataFrame, nLanes: Int, perBand: Int): DataFrame = {
    val hashed = shingled.select(col("doc_id"), explode(col("shset")).as("h"))
    val lanes = (0 until nLanes).map(j =>
      min((col("h") * lit(2L * j + 1) + lit(j * 104729L)) % lit(P)).as(s"m$j"))
    val sigs = hashed.groupBy(col("doc_id")).agg(lanes.head, lanes.tail: _*)
    val nBands = nLanes / perBand
    val bandStructs = array((0 until nBands).map(b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until perBand).map(k =>
          col(s"m${perBand * b + k}").cast("string")): _*).as("band_key"))): _*)
    sigs.select(col("doc_id"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** The shared exact-dedup → MinHash → LSH-band → candidate → Jaccard
    * chain: returns (docs, reps, scored) where `scored` is every DISTINCT
    * LSH candidate pair with its true Jaccard (unfiltered — q49's census
    * wants the candidates too; q61 filters to the verified edges).
    * `reps`/`shingled` are persisted because the verify join scans the
    * shingle frame from both sides; at 100 TB these are the checkpointed
    * staging tables between pipeline stages. */
  private[graft] def scoredCandidatePairs(spark: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, d)
    val reps = docs.withColumn("th", md5(col("text")))
      .groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .transform(StagingRoots.persist)
    // HASHED shingle sets (sorted distinct md5-32 longs): the pipeline's
    // shingle representation — 8 bytes per shingle through the persisted
    // frame and both sides of the verify join, vs ~15-char strings that
    // spilled 21 GB in that join's sort at the 10× rehearsal. Hash values
    // are the same md5Int both engines compute, so minhash signatures are
    // unchanged and the oracle stays bit-exact (see withShingleSet — the
    // whole dedup family shares this representation).
    val shingled = docs
      .join(reps, "doc_id")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.hashedWordBigrams(col("text")).as("shset"))
      .transform(StagingRoots.persist)
    val bands = minhashBands(shingled, nLanes = 16, perBand = 2)
    val cand = bands.select(col("band"), col("band_key"), col("doc_id").as("d1"))
      .join(bands.select(col("band").as("band_r"), col("band_key").as("band_key_r"),
        col("doc_id").as("d2")),
        col("band") === col("band_r") && col("band_key") === col("band_key_r") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    // candidates scored but NOT filtered: the verified/removed census
    // columns become filtered aggregates of this one frame
    val scored = verifyScored(spark, cand, shingled)
    (docs, reps, scored)
  }

  /** True-Jaccard scoring of candidate pairs against the hashed shingle
    * frame, with the verify join's parallelism SIZED to candidate volume.
    * Each pair carries ~2.5 KB of shingle payload through the join
    * shuffles; at the session's fixed shuffle.partitions a high-duplication
    * corpus (the 100× rehearsal: ~100-way near-dup clusters) lands GBs on
    * every task and OOMs — and AQE only COALESCES small partitions or
    * splits SKEWED ones; it cannot split uniformly-huge ones. The explicit
    * repartitions pin every verify-stage exchange to ~48 MB/partition at
    * any scale (the count is one cheap job over the persisted 16-byte pair
    * frame; at bench SF nPart degenerates to the SESSION's shuffle
    * partitions — the r17 input-size-derived default, not the core count:
    * a tiny candidate frame does not need 32-way verify exchanges, and the
    * 32-core floor made q86/q88 run 1.5-2x SLOWER than at 8 cores. The
    * volume term — the actual OOM contract — is unchanged). */
  /** The session's configured shuffle-partition count — the parallelism
    * FLOOR for volume-sized verify joins. Falls back to the core count if
    * the conf is ever non-numeric (e.g. a future "auto" mode). */
  private def sessionShuffleParts(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  private def verifyScored(spark: SparkSession, cand0: DataFrame,
      shingled: DataFrame): DataFrame = {
    val cand = StagingRoots.persist(cand0)
    val nCand = cand.count()
    val nPart = math.max(sessionShuffleParts(spark),
      (nCand * 2500L / (48L << 20)).toInt + 1)
    cand.repartition(nPart, col("d1"))
      .join(shingled.select(col("doc_id").as("d1"), col("shset").as("s1"))
        .repartition(nPart, col("d1")), "d1")
      .repartition(nPart, col("d2"))
      .join(shingled.select(col("doc_id").as("d2"), col("shset").as("s2"))
        .repartition(nPart, col("d2")), "d2")
      .withColumn("jac", jaccard(col("s1"), col("s2")))
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** Staging table for the scored-candidate chain (SCALE.md's 1000×
    * "checkpointed staging table", now real): the exact-dedup → shingle →
    * MinHash → LSH-band → candidate → Jaccard chain is computed ONCE per
    * (corpus dir) per process, written as parquet via ResultSink, and every
    * consumer (q49 census, q61 components, q79 split leakage) reads the
    * written copy — previously each of the three re-derived the whole chain
    * (3× the pipeline's dominant cost per full run). The first consumer
    * pays materialization, exactly like a production pipeline's staging
    * write; the written frame is the UNFILTERED candidate set (q49's census
    * counts candidates too), so q61/q79 push their jac-threshold filter
    * into the parquet scan. A fresh per-process tmpdir keys the staging to
    * this JVM — no cross-run staleness; StagingSpec pins staging == inline.
    */
  private[graft] object Staging {
    def scoredAndCounts(spark: SparkSession, d: String): (DataFrame, DataFrame) =
      StagingRoots.tables(spark, "dedup", "scored", d) {
        val (docs, reps, scored) = scoredCandidatePairs(spark, d)
        // two independent reads of already-persisted frames, written
        // concurrently: the counts job's handful of tasks back-fill the
        // scored write's straggler tail
        Seq(scored, docs.agg(count(lit(1)).as("n_docs"))
          .crossJoin(reps.agg(count(lit(1)).as("n_after_exact"))))
      } match { case Seq(scored, counts) => (scored, counts) }
  }

  def q49DedupPipeline(spark: SparkSession, d: String): DataFrame = {
    val (scored, counts) = Staging.scoredAndCounts(spark, d)
    val isVerified = col("jac") >= JaccardThreshold
    val census = scored.agg(
      count(lit(1)).as("n_candidate_pairs"),
      count(when(isVerified, 1)).as("n_verified_pairs"),
      round(coalesce(max(when(isVerified, col("jac"))), lit(0.0)), 4)
        .as("max_jaccard"),
      countDistinct(when(isVerified, col("d2"))).as("n_near_removed"))
    counts
      .crossJoin(census)
      .select(
        col("n_docs"),
        (col("n_docs") - col("n_after_exact")).as("n_exact_removed"),
        col("n_after_exact"), col("n_candidate_pairs"), col("n_verified_pairs"),
        col("max_jaccard"), col("n_near_removed"),
        (col("n_after_exact") - col("n_near_removed")).as("n_survivors"))
  }

  /** SQL twin of [[scoredCandidatePairs]] + the Jaccard filter: CTEs
    * `reps` → `s` → `sig` → `bands` → `cand` → `verified`. Interpolated
    * into both the q49 and q61 oracles. */
  private val verifiedChainSql: String =
    s"""reps AS (
      |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |s0 AS (
      |  $shingleSetSql),
      |s AS (
      |  SELECT s0.doc_id, s0.shset FROM s0 JOIN reps USING (doc_id)),
      |sig AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      shset, h -> ((j*2 + 1) * h + j*104729) % $P))) AS sig
      |  FROM s),
      |bands AS (
      |  SELECT doc_id, g.band,
      |    concat(sig[g.band*2 + 1], '_', sig[g.band*2 + 2]) AS band_key
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) g),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
      |verified AS (
      |  SELECT * FROM (
      |    SELECT c.d1, c.d2,
      |      len(list_intersect(a.shset, b.shset))::DOUBLE /
      |        len(list_distinct(list_concat(a.shset, b.shset)))::DOUBLE AS jac
      |    FROM cand c JOIN s a ON a.doc_id = c.d1 JOIN s b ON b.doc_id = c.d2)
      |  WHERE jac >= $JaccardThreshold)""".stripMargin

  val q49Sql: String =
    s"""WITH $verifiedChainSql,
      |removed AS (SELECT DISTINCT d2 FROM verified)
      |SELECT
      |  (SELECT count(*) FROM documents) AS n_docs,
      |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM reps) AS n_exact_removed,
      |  (SELECT count(*) FROM reps) AS n_after_exact,
      |  (SELECT count(*) FROM cand) AS n_candidate_pairs,
      |  (SELECT count(*) FROM verified) AS n_verified_pairs,
      |  round(coalesce((SELECT max(jac) FROM verified), 0.0), 4) AS max_jaccard,
      |  (SELECT count(*) FROM removed) AS n_near_removed,
      |  (SELECT count(*) FROM reps) - (SELECT count(*) FROM removed) AS n_survivors""".stripMargin

  // ---------------------------------------------------------------------------
  // q61 — duplicate clusters as CONNECTED COMPONENTS of the verified
  // near-dup pair graph (the q49 chain closed under transitivity). q49's
  // greedy pair removal is the per-pair approximation; the component view
  // is the semantics a corpus pipeline actually wants — "all transitive
  // near-copies of one document form one cluster, keep exactly one
  // representative" — and the two disagree exactly when a middle document
  // links two pairs whose endpoints never shared an LSH bucket.
  //
  // Algorithm: iterative min-label propagation with a pointer jump
  // (operators/PropagationComponents). Each round is one equi-join + one
  // groupBy on the EDGE LIST ONLY (the corpus is never in the loop — at
  // 100 TB the edge list is orders of magnitude smaller than the corpus
  // since it holds only LSH-verified pairs), and near-dup clusters at
  // Jaccard ≥ 0.5 are near-cliques (diameter 2-3), so they converge in a
  // few rounds. For adversarial chain graphs the same join shape upgrades
  // to large-star/small-star (q87).
  def q61DupComponents(spark: SparkSession, d: String): DataFrame = {
    val (scored, _) = Staging.scoredAndCounts(spark, d)
    // the loop's adjacency unions the edge list with its reverse; both
    // branches read the WRITTEN staging table (jac filter pushed into the parquet
    // scan) instead of re-running the LSH+verify chain per branch
    val edges = scored.filter(col("jac") >= JaccardThreshold)
      .select(col("d1"), col("d2"))
    val (labels, rounds) = graft.operators.PropagationComponents.labels(edges)
    System.err.println(s"[q61] converged in $rounds rounds")
    labels.groupBy(col("label").as("cluster_root"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_doc_id"))
      .orderBy(col("cluster_root"))
  }

  /** Transitive closure of the verified edge set via a recursive CTE
    * (fine at oracle scale — component sizes are tiny), then per-node
    * component label = min reachable id. Shared by the q61/q87 census and
    * q89's representative selection. */
  private val componentLabelsSql: String =
    s"""$verifiedChainSql,
      |e AS (
      |  SELECT d1 AS a, d2 AS b FROM verified
      |  UNION SELECT d2, d1 FROM verified),
      |reach(src, dst) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      |labels AS (
      |  SELECT src AS node, least(src, min(dst)) AS label
      |  FROM reach GROUP BY src)""".stripMargin

  val q61Sql: String =
    s"""WITH RECURSIVE $componentLabelsSql
      |SELECT label AS cluster_root, count(*) AS n_members,
      |  max(node) AS max_doc_id
      |FROM labels GROUP BY label ORDER BY cluster_root""".stripMargin

  // ---------------------------------------------------------------------------
  // q87 — the SAME duplicate-cluster census as q61 under the published
  // large-graph algorithm: alternating large-star/small-star
  // (operators/StarComponents, Kiveris et al. SoCC'14). q61's propagation
  // (with its r5 pointer jump) also converges in O(log n) rounds, but every
  // round joins the FULL edge list against the label frame — per-round work
  // is constant at |E| forever. Star contraction rewrites the edge set
  // itself: after the first rounds most components are already stars, so
  // the frames each subsequent round touches SHRINK toward one edge per
  // non-root node — the property that matters when the verified-pair graph
  // is billions of edges and rounds are cluster-wide barriers. Same
  // per-round physical shape (one groupBy + one join, corpus never in the
  // loop). Shares the q61 oracle — the two algorithms must agree exactly,
  // and the driver checks both against DuckDB's transitive closure.
  // GraphScale measures both loops on adversarial chain/clique graphs far
  // larger than any fixture; StarComponentsSpec pins equality.
  def q87ComponentsStar(spark: SparkSession, d: String): DataFrame = {
    val (scored, _) = Staging.scoredAndCounts(spark, d)
    val edges = scored.filter(col("jac") >= JaccardThreshold)
      .select(col("d1"), col("d2"))
    graft.operators.StarComponents.labels(edges)
      .groupBy(col("label").as("cluster_root"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_doc_id"))
      .orderBy(col("cluster_root"))
  }

  // ---------------------------------------------------------------------------
  // q88 — INCREMENTAL snapshot dedup: a new crawl batch deduped against the
  // already-curated corpus through its PERSISTED dedup index, the shape a
  // continuously-ingesting 100 TB pipeline actually runs (re-deduping the
  // whole corpus per snapshot — the q49 form — is a full-corpus scan every
  // arrival; production amortizes it into an index built once and probed
  // per batch). The batch is the deterministic 20% doc_id-hash slice; the
  // other 80% plays the existing corpus, whose index (exact-digest set,
  // LSH band keys, shingle sketches of the exact reps — 16 lanes × 8
  // bands, the q26/q49 scheme) is built ONCE per corpus dir and WRITTEN
  // via ResultSink, like the q49/q61/q79 staging table.
  //
  // The incremental contract, and why it scales: the per-batch cost is
  // |batch| (digest + signature projection) + index probes (two hash
  // joins against persisted digests/bands) + verification of the
  // candidates those probes return — the existing corpus TEXT is never
  // rescanned (its sketches live in the index), so snapshot n costs the
  // same whether the accumulated corpus is 1 TB or 100 TB. Within-batch
  // dedup (exact, then LSH among batch survivors) runs first, mirroring
  // q49; removal is greedy per verified pair (later doc loses), existing
  // docs always win ties against incoming.
  private[graft] object IncrementalIndex {
    /** (digests (th), bands (doc_id, band, band_key), sketches
      * (doc_id, shset)) of the EXISTING-corpus exact reps, from the
      * written index. */
    def of(spark: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
      StagingRoots.tables(spark, "dedup", "incr_index", d) {
        val docs = Tables.documents(spark, d)
        val existing = docs
          .filter(md5Int(col("doc_id").cast("string")) % 5 =!= 0)
        val reps = existing.withColumn("th", md5(col("text")))
          .groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
        val sketches = StagingRoots.persist(
          existing.join(reps.select(col("doc_id")), "doc_id")
            .select(col("doc_id"),
              graft.functions.GraftFunctions.hashedWordBigrams(col("text")).as("shset")))
        Seq(reps.select(col("th")), minhashBands(sketches, nLanes = 16, perBand = 2),
          sketches)
      } match { case Seq(digests, bands, sketches) => (digests, bands, sketches) }
  }

  def q88IncrementalDedup(spark: SparkSession, d: String): DataFrame = {
    val (exDigests, exBands, exSketches) = IncrementalIndex.of(spark, d)
    val docs = Tables.documents(spark, d)
    val inc = docs.filter(md5Int(col("doc_id").cast("string")) % 5 === 0)
      .withColumn("th", md5(col("text")))
      .transform(StagingRoots.persist)
    // exact lane: index digest probe, then within-batch digest grouping
    val stayed = inc.join(exDigests, Seq("th"), "left_anti")
    val repsI = stayed.groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val skI = stayed.join(repsI, "doc_id")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.hashedWordBigrams(col("text")).as("shset"))
      .transform(StagingRoots.persist)
    val bandsI = minhashBands(skI, nLanes = 16, perBand = 2)
      .transform(StagingRoots.persist)
    // near lane: batch bands probe the index bands (candidates vs
    // existing) and self-join (candidates within the batch)
    val candE = bandsI.select(col("band"), col("band_key"), col("doc_id").as("d1"))
      .join(exBands.select(col("band").as("band_r"), col("band_key").as("band_key_r"),
        col("doc_id").as("d2")),
        col("band") === col("band_r") && col("band_key") === col("band_key_r"))
      .select(col("d1"), col("d2")).distinct()
      .transform(StagingRoots.persist)
    val candI = bandsI.select(col("band"), col("band_key"), col("doc_id").as("d1"))
      .join(bandsI.select(col("band").as("band_r"), col("band_key").as("band_key_r"),
        col("doc_id").as("d2")),
        col("band") === col("band_r") && col("band_key") === col("band_key_r") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
      .transform(StagingRoots.persist)
    // verify: batch sketches on d1; (index ∪ batch) sketches on d2 —
    // existing text is NOT read, its sketches come from the written index
    val sk2 = exSketches.union(skI)
    def score(cand: DataFrame): DataFrame = {
      // verify parallelism SIZED to candidate volume — the verifyScored
      // discipline: a fixed defaultParallelism re-exposed the exact
      // uniform-huge-partition OOM that discipline exists to prevent
      // (high-duplication corpora go quadratic in cluster size and AQE
      // cannot split uniformly-huge partitions; r13 review). The count
      // is one cheap job over the persisted 16-byte pair frame. Floor =
      // the session's size-derived shuffle partitions (r17), not the
      // core count — see verifyScored.
      val nPart = math.max(sessionShuffleParts(spark),
        (cand.count() * 2500L / (48L << 20)).toInt + 1)
      cand.repartition(nPart, col("d1"))
        .join(skI.select(col("doc_id").as("d1"), col("shset").as("s1"))
          .repartition(nPart, col("d1")), "d1")
        .repartition(nPart, col("d2"))
        .join(sk2.select(col("doc_id").as("d2"), col("shset").as("s2"))
          .repartition(nPart, col("d2")), "d2")
        .withColumn("jac", jaccard(col("s1"), col("s2")))
        .select(col("d1"), col("d2"), col("jac"))
        .filter(col("jac") >= JaccardThreshold)
    }
    val verE = StagingRoots.persist(score(candE))
    val verI = StagingRoots.persist(score(candI))
    val removed = verE.select(col("d1")).union(verI.select(col("d2"))).distinct()
    val census = inc.agg(count(lit(1)).as("n_incoming"))
      .crossJoin(exDigests.agg(count(lit(1)).as("n_existing_reps")))
      .crossJoin(stayed.agg(count(lit(1)).as("n_stayed")))
      .crossJoin(repsI.agg(count(lit(1)).as("n_after_exact")))
      .crossJoin(candE.agg(count(lit(1)).as("n_cand_vs_existing")))
      .crossJoin(candI.agg(count(lit(1)).as("n_cand_within")))
      .crossJoin(verE.agg(count(lit(1)).as("n_verified_vs_existing")))
      .crossJoin(verI.agg(count(lit(1)).as("n_verified_within")))
      .crossJoin(removed.agg(count(lit(1)).as("n_near_removed")))
      .select(
        col("n_incoming"),
        col("n_existing_reps"),
        (col("n_incoming") - col("n_stayed")).as("n_exact_dup_vs_existing"),
        (col("n_stayed") - col("n_after_exact")).as("n_exact_dup_within"),
        col("n_after_exact"),
        col("n_cand_vs_existing"), col("n_cand_within"),
        col("n_verified_vs_existing"), col("n_verified_within"),
        col("n_near_removed"),
        (col("n_after_exact") - col("n_near_removed")).as("n_accepted"))
    // ONE census row: materialize it now so the batch-scoped persists can
    // be released — pre-fix skI/bandsI/verE/verI pinned corpus-sized
    // shingle/band frames in the block store for the JVM lifetime
    // (r13 review; the IncrementalIndex cache correctly persists across
    // batches — that is the INDEX, not batch scratch)
    val row = census.collect()
    Seq(inc, skI, bandsI, candE, candI, verE, verI).foreach(_.unpersist(false))
    spark.createDataFrame(
      spark.sparkContext.parallelize(row.toSeq), census.schema)
  }

  val q88Sql: String = {
    val sigSql = (src: String) =>
      s"""SELECT doc_id,
        |    list_transform(range(0, 16), j -> list_min(list_transform(
        |      shset, h -> ((j*2 + 1) * h + j*104729) % $P))) AS sig
        |  FROM $src""".stripMargin
    val bandSql = (src: String) =>
      s"""SELECT doc_id, g.band,
        |    concat(sig[g.band*2 + 1], '_', sig[g.band*2 + 2]) AS band_key
        |  FROM $src CROSS JOIN (SELECT unnest(range(0, 8)) AS band) g""".stripMargin
    s"""WITH s0 AS ($shingleSetSql),
      |incd AS (
      |  SELECT doc_id, md5(text) AS th FROM documents
      |  WHERE ${md5IntSql("CAST(doc_id AS VARCHAR)")} % 5 = 0),
      |exd AS (
      |  SELECT md5(text) AS th, min(doc_id) AS doc_id FROM documents
      |  WHERE ${md5IntSql("CAST(doc_id AS VARCHAR)")} % 5 <> 0
      |  GROUP BY 1),
      |stayed AS (
      |  SELECT * FROM incd WHERE th NOT IN (SELECT th FROM exd)),
      |reps_i AS (SELECT th, min(doc_id) AS doc_id FROM stayed GROUP BY th),
      |ski AS (SELECT s0.doc_id, shset FROM s0 JOIN reps_i USING (doc_id)),
      |ske AS (SELECT s0.doc_id, shset FROM s0 JOIN exd USING (doc_id)),
      |sig_i AS (${sigSql("ski")}),
      |sig_e AS (${sigSql("ske")}),
      |bands_i AS (${bandSql("sig_i")}),
      |bands_e AS (${bandSql("sig_e")}),
      |cand_e AS (
      |  SELECT DISTINCT i.doc_id AS d1, e.doc_id AS d2
      |  FROM bands_i i JOIN bands_e e
      |    ON i.band = e.band AND i.band_key = e.band_key),
      |cand_i AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bands_i a JOIN bands_i b
      |    ON a.band = b.band AND a.band_key = b.band_key
      |   AND a.doc_id < b.doc_id),
      |ver_e AS (
      |  SELECT * FROM (
      |    SELECT c.d1, c.d2,
      |      len(list_intersect(a.shset, b.shset))::DOUBLE /
      |        len(list_distinct(list_concat(a.shset, b.shset)))::DOUBLE AS jac
      |    FROM cand_e c JOIN ski a ON a.doc_id = c.d1 JOIN ske b ON b.doc_id = c.d2)
      |  WHERE jac >= $JaccardThreshold),
      |ver_i AS (
      |  SELECT * FROM (
      |    SELECT c.d1, c.d2,
      |      len(list_intersect(a.shset, b.shset))::DOUBLE /
      |        len(list_distinct(list_concat(a.shset, b.shset)))::DOUBLE AS jac
      |    FROM cand_i c JOIN ski a ON a.doc_id = c.d1 JOIN ski b ON b.doc_id = c.d2)
      |  WHERE jac >= $JaccardThreshold),
      |removed AS (
      |  SELECT DISTINCT d1 AS doc_id FROM ver_e
      |  UNION SELECT DISTINCT d2 FROM ver_i)
      |SELECT
      |  (SELECT count(*) FROM incd) AS n_incoming,
      |  (SELECT count(*) FROM exd) AS n_existing_reps,
      |  (SELECT count(*) FROM incd) - (SELECT count(*) FROM stayed)
      |    AS n_exact_dup_vs_existing,
      |  (SELECT count(*) FROM stayed) - (SELECT count(*) FROM reps_i)
      |    AS n_exact_dup_within,
      |  (SELECT count(*) FROM reps_i) AS n_after_exact,
      |  (SELECT count(*) FROM cand_e) AS n_cand_vs_existing,
      |  (SELECT count(*) FROM cand_i) AS n_cand_within,
      |  (SELECT count(*) FROM ver_e) AS n_verified_vs_existing,
      |  (SELECT count(*) FROM ver_i) AS n_verified_within,
      |  (SELECT count(*) FROM removed) AS n_near_removed,
      |  (SELECT count(*) FROM reps_i) - (SELECT count(*) FROM removed)
      |    AS n_accepted""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q89 — duplicate-cluster REPRESENTATIVE selection: keep the
  // highest-QUALITY member of each near-dup cluster, not the first-seen
  // one. q49/q61 remove by doc_id order (deterministic but arbitrary);
  // production dedup keeps the best member — the cleanest extraction of a
  // page that was crawled many times with varying boilerplate — so the
  // kept set's quality dominates the corpus after dedup. Clusters come
  // from the star-contraction labeling (q87's operator) over the staged
  // verified pairs; quality is q21's score, computed ONLY for cluster
  // members (a broadcast-sized semi-join back to the corpus — cluster
  // membership is orders of magnitude smaller than the corpus, and
  // non-clustered docs need no score because they are all kept).
  // Tie-break: equal quality → lower doc_id (scores are bit-identical
  // across engines, so the argmax is too).
  def q89ClusterRep(spark: SparkSession, d: String): DataFrame = {
    val (scored, _) = Staging.scoredAndCounts(spark, d)
    val edges = scored.filter(col("jac") >= JaccardThreshold)
      .select(col("d1"), col("d2"))
    val labels = graft.operators.StarComponents.labels(edges)
    val members = labels.join(
      Tables.documents(spark, d)
        .select(col("doc_id").as("node"), col("text"), col("n_chars")),
      "node")
      .withColumn("q", TextOps.quality(col("text"), col("n_chars")))
    val w = Window.partitionBy(col("label")).orderBy(col("q").desc, col("node"))
    members.withColumn("rk", row_number().over(w))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("node"))).as("kept_doc_id"),
        round(max(when(col("rk") === 1, col("q"))), 6).as("kept_quality"))
      .select(col("label").as("cluster_root"), col("n_members"),
        col("kept_doc_id"), col("kept_quality"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy(col("cluster_root"))
  }

  val q89Sql: String =
    s"""WITH RECURSIVE $componentLabelsSql,
      |m AS (
      |  SELECT l.label, l.node,
      |    ${TextOps.qualitySql("d.text", "d.n_chars")} AS q
      |  FROM labels l JOIN documents d ON d.doc_id = l.node),
      |r AS (
      |  SELECT label, node, q,
      |    row_number() OVER (PARTITION BY label ORDER BY q DESC, node) AS rk
      |  FROM m)
      |SELECT label AS cluster_root, count(*) AS n_members,
      |  max(CASE WHEN rk = 1 THEN node END) AS kept_doc_id,
      |  round(max(CASE WHEN rk = 1 THEN q END), 6) AS kept_quality,
      |  count(*) - 1 AS n_dropped
      |FROM r GROUP BY label ORDER BY cluster_root""".stripMargin

  // ---------------------------------------------------------------------------
  // q79 — near-dup split-leakage census: verified LSH pairs (the q49/q61
  // chain) crossed with the q53 deterministic split assignment, counting
  // pairs whose two members land in DIFFERENT train/val/test splits —
  // benchmark leakage a naive doc-level split always produces (near-dups
  // are assigned independently), and the reason production pipelines
  // dedup BEFORE splitting (q60's funnel order). The join is pairs ⋈
  // broadcast of nothing: the split is a pure hash of doc_id, computed
  // inline on both pair members — no second corpus pass at all. The
  // census keys (split_a, split_b) are the only shuffle. The verified
  // pairs come from the shared staging table, so this query no longer
  // re-derives the LSH chain q49 already materialized.
  def q79SplitLeakage(spark: SparkSession, d: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) = {
      val bucket = graft.functions.GraftFunctions.md5PrefixInt(c.cast("string")) % 100
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    }
    val (scored, _) = Staging.scoredAndCounts(spark, d)
    scored.filter(col("jac") >= JaccardThreshold)
      .withColumn("split_a", splitOf(col("d1")))
      .withColumn("split_b", splitOf(col("d2")))
      .groupBy(col("split_a"), col("split_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(max(col("jac")), 4).as("max_jaccard"))
      .withColumn("leaky", (col("split_a") =!= col("split_b")).cast("int"))
      .orderBy(col("split_a"), col("split_b"))
  }

  val q79Sql: String =
    s"""WITH $verifiedChainSql,
      |sp AS (
      |  SELECT d1, d2, jac,
      |    CASE WHEN ${TextOps.md5IntSql("CAST(d1 AS VARCHAR)")} % 100 < 80 THEN 'train'
      |         WHEN ${TextOps.md5IntSql("CAST(d1 AS VARCHAR)")} % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split_a,
      |    CASE WHEN ${TextOps.md5IntSql("CAST(d2 AS VARCHAR)")} % 100 < 80 THEN 'train'
      |         WHEN ${TextOps.md5IntSql("CAST(d2 AS VARCHAR)")} % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split_b
      |  FROM verified)
      |SELECT split_a, split_b, count(*) AS n_pairs,
      |  round(max(jac), 4) AS max_jaccard,
      |  CAST(split_a <> split_b AS INT) AS leaky
      |FROM sp GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin

  // ---------------------------------------------------------------------------
  // q86 — the 100 TB LSH candidate-generation lane. The 100× corpus
  // rehearsal showed the 8-band × 2-lane scheme (q26/q49) producing a
  // 25,487-doc bucket and 1.85e9 candidate pairs on a 500k-doc corpus with
  // ~100-way near-dup clusters: Zipfian shingle distributions make many
  // documents share their two smallest min-hash lanes, so candidate volume
  // goes quadratic exactly when duplication is heavy — correct at bench SF,
  // a scale-killer at 100×. This lane is the production answer, kept
  // oracle-checked like everything else:
  //   - exact-dedup survivors first (identical docs never reach banding);
  //   - 16 bands × 3 lanes from 48 min-hashes: an unrelated pair must now
  //     agree on THREE independent mins to collide (P = s³ per band vs s²),
  //     while recall at jac 0.5 stays 1−(1−0.5³)^16 ≈ 0.88;
  //   - a bucket-occupancy cap (64) with EXPLICIT accounting: a bucket
  //     still larger than the cap at r=3 is one giant near-dup cluster or a
  //     degenerate shingle, and production pipelines quarantine those for a
  //     cluster-level path (components over star edges) instead of paying
  //     C(occ,2) — the census reports exactly what was quarantined, so the
  //     cap is a measured, not silent, recall trade.
  // Candidate volume is then ≤ n_buckets · C(cap,2) — linear in corpus —
  // and the verify join reuses the volume-sized partitioning.
  private val LshCap = 64

  /** The q86 lane's staged frames: exact-rep shingle sets, their 16×3
    * band keys, and the per-bucket occupancy — persisted; shared by the
    * q86 census and q91's quarantine resolution. Returns
    * (reps, shingled, bands, occ). */
  private def scaledLshFrames(spark: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, d)
    val reps = docs.withColumn("th", md5(col("text")))
      .groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val shingled = docs.join(reps, "doc_id")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.hashedWordBigrams(col("text")).as("shset"))
      .transform(StagingRoots.persist)
    val bands = minhashBands(shingled, nLanes = 48, perBand = 3)
      .transform(StagingRoots.persist)
    val occ = bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("cnt"))
      .transform(StagingRoots.persist)
    (reps, shingled, bands, occ)
  }

  def q86LshScaled(spark: SparkSession, d: String): DataFrame = {
    val (reps, shingled, bands, occ) = scaledLshFrames(spark, d)
    val bandsOk = bands.join(
      occ.filter(col("cnt") <= LshCap).select(col("band"), col("band_key")),
      Seq("band", "band_key"))
    val cand = bandsOk.select(col("band"), col("band_key"), col("doc_id").as("d1"))
      .join(bandsOk.select(col("band").as("band_r"),
        col("band_key").as("band_key_r"), col("doc_id").as("d2")),
        col("band") === col("band_r") && col("band_key") === col("band_key_r") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val scored = verifyScored(spark, cand, shingled)
    val isVerified = col("jac") >= JaccardThreshold
    val capCensus = occ.agg(
      count(lit(1)).as("n_buckets"),
      max(col("cnt")).as("max_bucket"),
      count(when(col("cnt") > LshCap, 1)).as("n_over_cap_buckets"))
    val quarantined = bands.join(
      occ.filter(col("cnt") > LshCap).select(col("band"), col("band_key")),
      Seq("band", "band_key"))
      .agg(countDistinct(col("doc_id")).as("n_docs_quarantined"))
    reps.agg(count(lit(1)).as("n_after_exact"))
      .crossJoin(capCensus)
      .crossJoin(quarantined)
      .crossJoin(scored.agg(
        count(lit(1)).as("n_candidate_pairs"),
        count(when(isVerified, 1)).as("n_verified_pairs"),
        round(coalesce(max(when(isVerified, col("jac"))), lit(0.0)), 4)
          .as("max_jaccard"),
        countDistinct(when(isVerified, col("d2"))).as("n_near_removed")))
  }

  /** SQL twin of [[scaledLshFrames]]: CTEs `reps` → `s0` → `s` → `sig` →
    * `bands` → `occ`; interpolated into the q86 and q91 oracles. */
  private val scaledLshCteSql: String =
    s"""reps AS (
      |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |s0 AS ($shingleSetSql),
      |s AS (
      |  SELECT s0.doc_id, s0.shset FROM s0 JOIN reps ON s0.doc_id = reps.doc_id),
      |sig AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 48), j -> list_min(list_transform(
      |      shset, h -> ((j*2 + 1) * h + j*104729) % $P))) AS sig
      |  FROM s),
      |bands AS (
      |  SELECT doc_id, g.band,
      |    concat(sig[g.band*3 + 1], '_', sig[g.band*3 + 2], '_',
      |           sig[g.band*3 + 3]) AS band_key
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band) g),
      |occ AS (
      |  SELECT band, band_key, count(*) AS cnt FROM bands GROUP BY 1, 2)""".stripMargin

  val q86Sql: String =
    s"""WITH $scaledLshCteSql,
      |bands_ok AS (
      |  SELECT b.* FROM bands b JOIN occ USING (band, band_key)
      |  WHERE occ.cnt <= $LshCap),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM bands_ok x JOIN bands_ok y
      |    ON x.band = y.band AND x.band_key = y.band_key
      |   AND x.doc_id < y.doc_id),
      |scored AS (
      |  SELECT c.d1, c.d2,
      |    len(list_intersect(a.shset, b.shset))::DOUBLE /
      |      len(list_distinct(list_concat(a.shset, b.shset)))::DOUBLE AS jac
      |  FROM cand c JOIN s a ON a.doc_id = c.d1 JOIN s b ON b.doc_id = c.d2)
      |SELECT
      |  (SELECT count(*) FROM reps) AS n_after_exact,
      |  (SELECT count(*) FROM occ) AS n_buckets,
      |  (SELECT max(cnt) FROM occ) AS max_bucket,
      |  (SELECT count(*) FROM occ WHERE cnt > $LshCap) AS n_over_cap_buckets,
      |  (SELECT count(DISTINCT b.doc_id) FROM bands b JOIN occ USING (band, band_key)
      |   WHERE occ.cnt > $LshCap) AS n_docs_quarantined,
      |  (SELECT count(*) FROM scored) AS n_candidate_pairs,
      |  (SELECT count(*) FROM scored WHERE jac >= $JaccardThreshold) AS n_verified_pairs,
      |  round(coalesce((SELECT max(jac) FROM scored WHERE jac >= $JaccardThreshold),
      |    0.0), 4) AS max_jaccard,
      |  (SELECT count(DISTINCT d2) FROM scored WHERE jac >= $JaccardThreshold)
      |    AS n_near_removed""".stripMargin

  // ---------------------------------------------------------------------------
  // q91 — QUARANTINE resolution: the cluster-level path q86's census
  // promises for its over-cap buckets, closed. A bucket still larger than
  // the cap at r=3 banding is (almost always) one giant near-dup cluster;
  // paying C(occ, 2) there is exactly the quadratic wall the cap exists to
  // avoid. Instead: star edges doc → bucket-min inside each quarantined
  // bucket, components over those edges (StarComponents — buckets sharing
  // a doc merge), then verify only the O(docs) (member, component-root)
  // pairs. One row always (zeros when nothing is quarantined — true at
  // bench SF below sf0.1, where max_bucket stays under the cap): the
  // census a production run alerts on. min/max jac rather than avg keeps
  // the aggregate summation-order-free, hence bit-comparable.
  //
  // Measured at sf0.1: the 4 over-cap buckets (440 docs) turn out to be
  // the OTHER case — degenerate-shingle hash collisions, not mega-
  // clusters (member-vs-root jac ≤ 0.104, n_verified_members = 0) — and
  // the verify stage correctly refuses the merge. That distinction is the
  // whole point of resolving quarantine through verification instead of
  // trusting bucket membership.
  def q91QuarantineResolve(spark: SparkSession, d: String): DataFrame = {
    val (_, shingled, bands, occ) = scaledLshFrames(spark, d)
    val oc = occ.filter(col("cnt") > LshCap).select(col("band"), col("band_key"))
    val qb = bands.join(oc, Seq("band", "band_key"))
    val roots = qb.groupBy(col("band"), col("band_key"))
      .agg(min(col("doc_id")).as("root"))
    val edges = qb.join(roots, Seq("band", "band_key"))
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("d1"), col("root").as("d2")).distinct()
    val labels = graft.operators.StarComponents.labels(edges)
    val mem = labels.filter(col("node") =!= col("label"))
    val scored = mem
      .join(shingled.select(col("doc_id").as("node"), col("shset").as("s1")), "node")
      .join(shingled.select(col("doc_id").as("label"), col("shset").as("s2")), "label")
      .withColumn("jac", jaccard(col("s1"), col("s2")))
    val cl = mem.groupBy(col("label")).agg((count(lit(1)) + 1).as("n_members"))
    oc.agg(count(lit(1)).as("n_over_cap_buckets"))
      .crossJoin(qb.agg(countDistinct(col("doc_id")).as("n_docs_quarantined")))
      .crossJoin(cl.agg(
        count(lit(1)).as("n_clusters"),
        coalesce(max(col("n_members")), lit(0L)).as("max_cluster_members")))
      .crossJoin(mem.agg(count(lit(1)).as("n_member_pairs")))
      .crossJoin(scored.agg(
        count(when(col("jac") >= JaccardThreshold, 1)).as("n_verified_members"),
        round(coalesce(min(col("jac")), lit(0.0)), 4).as("min_jac"),
        round(coalesce(max(col("jac")), lit(0.0)), 4).as("max_jac")))
  }

  val q91Sql: String =
    s"""WITH RECURSIVE $scaledLshCteSql,
      |oc AS (SELECT band, band_key FROM occ WHERE cnt > $LshCap),
      |qb AS (
      |  SELECT b.band, b.band_key, b.doc_id
      |  FROM bands b JOIN oc USING (band, band_key)),
      |roots AS (
      |  SELECT band, band_key, min(doc_id) AS root FROM qb GROUP BY 1, 2),
      |e0 AS (
      |  SELECT DISTINCT qb.doc_id AS a, r.root AS b
      |  FROM qb JOIN roots r USING (band, band_key)
      |  WHERE qb.doc_id <> r.root),
      |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      |reach(src, dst) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      |labels AS (
      |  SELECT src AS node, least(src, min(dst)) AS label
      |  FROM reach GROUP BY src),
      |mem AS (SELECT node, label FROM labels WHERE node <> label),
      |scored AS (
      |  SELECT m.label,
      |    len(list_intersect(a.shset, b.shset))::DOUBLE /
      |      len(list_distinct(list_concat(a.shset, b.shset)))::DOUBLE AS jac
      |  FROM mem m JOIN s a ON a.doc_id = m.node JOIN s b ON b.doc_id = m.label),
      |cl AS (SELECT label, count(*) + 1 AS n_members FROM mem GROUP BY label)
      |SELECT
      |  (SELECT count(*) FROM oc) AS n_over_cap_buckets,
      |  (SELECT count(DISTINCT doc_id) FROM qb) AS n_docs_quarantined,
      |  (SELECT count(*) FROM cl) AS n_clusters,
      |  coalesce((SELECT max(n_members) FROM cl), 0) AS max_cluster_members,
      |  (SELECT count(*) FROM mem) AS n_member_pairs,
      |  (SELECT count(*) FROM scored WHERE jac >= $JaccardThreshold)
      |    AS n_verified_members,
      |  round(coalesce((SELECT min(jac) FROM scored), 0.0), 4) AS min_jac,
      |  round(coalesce((SELECT max(jac) FROM scored), 0.0), 4) AS max_jac""".stripMargin

  val all: Map[String, Q] = Map(
    "q79_split_leakage" -> (q79SplitLeakage _),
    "q91_quarantine_resolve" -> (q91QuarantineResolve _),
    "q86_lsh_scaled" -> (q86LshScaled _),
    "q87_components_star" -> (q87ComponentsStar _),
    "q88_incremental_dedup" -> (q88IncrementalDedup _),
    "q89_cluster_rep" -> (q89ClusterRep _),
    "q25_ngram_jaccard" -> (q25NgramJaccard _),
    "q26_minhash_lsh" -> (q26MinhashLsh _),
    "q27_simhash" -> (q27Simhash _),
    "q49_dedup_pipeline" -> (q49DedupPipeline _),
    "q61_dup_components" -> (q61DupComponents _))

  val oracles: Map[String, String] = Map(
    "q86_lsh_scaled" -> q86Sql,
    "q91_quarantine_resolve" -> q91Sql,
    "q25_ngram_jaccard" -> q25Sql,
    "q26_minhash_lsh" -> q26Sql,
    "q27_simhash" -> q27Sql,
    "q49_dedup_pipeline" -> q49Sql,
    "q61_dup_components" -> q61Sql,
    "q87_components_star" -> q61Sql, // same contract, different algorithm
    "q88_incremental_dedup" -> q88Sql,
    "q89_cluster_rep" -> q89Sql,
    "q79_split_leakage" -> q79Sql)
}
