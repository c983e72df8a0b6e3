package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-rehearsal fixture generator (dev tool, not part of
  * the query surface). Expands a driver testdata directory by
  * `seriesK × timeK` along the two axes a production deployment actually
  * grows on:
  *
  *   - seriesK: more independent series/assets (new `event_type` values) —
  *     the horizontal-scale axis; window stages parallelize across them.
  *   - timeK:   longer history per series (disjoint time segments appended
  *     per series) — the hard axis for sequential per-series operators
  *     (rolling-quantile replay, Laguerre recursion).
  *
  * TPC-H-ish tables are replicated `seriesK*timeK` times with consistent
  * foreign-key shifts so every join still resolves. Documents are expanded
  * with a half-splice construction (first half of doc i + second half of a
  * partner doc) so the corpus grows with *genuinely new* documents that
  * carry realistic partial-duplicate structure — naive full copies would
  * make every LSH bucket quadratic in the replication factor, which
  * benchmarks the pathology rather than the scale. Embeddings get a small
  * deterministic per-replica perturbation for the same reason.
  *
  * All arithmetic is seed-free and closed-form: same inputs, same fixture.
  * Row counts: `region` and `nation` are copied as they are; every other
  * table holds `seriesK × timeK` times its source rows.
  *
  * Usage: runMain graft.ScaleFixture <srcDir> <dstDir> [seriesK] [timeK] [opt...]
  *   opt `skew=<pct>`  — remap <pct>% of ALL events to one hot user
  *                       (power-law rehearsal: does the event-stream
  *                       family survive a bot holding 10% of traffic?)
  *   opt `corpus-only` — write only documents + embeddings (the corpus
  *                       axis at 100× without paying for the rest)
  *   opt `emb-only`    — write only embeddings (the semantic-dedup lane
  *                       never reads documents; at 1000× the 5M-doc text
  *                       expansion is pure fixture-build cost)
  *   opt `events-only` — write only events (push the event-stream axis
  *                       hard without replicating the TPC-H star)
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val spark = SparkEntry.session(src, SparkEntry.cpus)
    try run(spark, src, args(1),
      seriesK = args.lift(2).map(_.toInt).getOrElse(5),
      timeK = args.lift(3).map(_.toInt).getOrElse(2),
      opts = args.drop(4).toSet)
    finally spark.stop()
  }

  /** Writes the `seriesK × timeK` fixture of `src` under `dst`. */
  def run(spark: SparkSession, src: String, dst: String, seriesK: Int, timeK: Int,
      opts: Set[String]): Unit = {
    val skewPct = opts.collectFirst { case o if o.startsWith("skew=") =>
      o.stripPrefix("skew=").toInt }.getOrElse(0)
    val corpusOnly = opts.contains("corpus-only")
    // hotshingle=P: append one IDENTICAL 350-word block to P% of docs —
    // Zipfian shingle-head skew (shared shingles outnumber a doc's own, so
    // most minhash lanes resolve to the shared minima and the hot docs
    // concentrate into the same band buckets). The q86 hot-BUCKET rehearsal.
    val hotShinglePct = opts.collectFirst { case o if o.startsWith("hotshingle=") =>
      o.stripPrefix("hotshingle=").toInt }.getOrElse(0)
    // dupvec=P: set P% of embeddings to ONE identical constant vector —
    // the degenerate-cluster rehearsal for the semantic-dedup lane (all
    // copies land in one k-means cell; q117's exact-first collapse is the
    // lane that stays flat)
    val dupVecPct = opts.collectFirst { case o if o.startsWith("dupvec=") =>
      o.stripPrefix("dupvec=").toInt }.getOrElse(0)
    // nearvec=P: set P% of embeddings to NEAR-identical but DISTINCT
    // vectors (one base + a tiny per-vec_id perturbation) — the
    // degenerate-cell rehearsal exact-first CANNOT collapse; q119's
    // capped census is the lane that stays flat
    val nearVecPct = opts.collectFirst { case o if o.startsWith("nearvec=") =>
      o.stripPrefix("nearvec=").toInt }.getOrElse(0)
    // the two windows (pmod(id,100)<dup and pmod(id+50,100)<near) are
    // residue intervals [0,dup) and [50,50+near mod 100): disjoint iff
    // BOTH stay on their own side of residue 50 — a sum check lets e.g.
    // dup=60,near=10 through even though residues 50-59 get both
    // treatments and nearvec silently overwrites dupvec (r9 ADVICE)
    // One-sided high percentages are safe when the other window is empty
    // (r10 ADVICE): dup=70,near=0 has no near window to collide with.
    require(dupVecPct <= 100 && nearVecPct <= 100,
      s"dupvec=$dupVecPct nearvec=$nearVecPct: percentages above 100 make " +
        "pmod(id,100) windows degenerate (always-true)")
    require((dupVecPct <= 50 && nearVecPct <= 50)
        || dupVecPct == 0 || nearVecPct == 0,
      s"dupvec=$dupVecPct nearvec=$nearVecPct: each must be <= 50 (or the " +
        "other 0) or the residue windows [0,dup) and [50,50+near) overlap")
    val eventsOnly = opts.contains("events-only")
    val k = seriesK * timeK

    def write(df: DataFrame, name: String): Unit = {
      df.coalesce(8).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] wrote $name")
    }

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0)

    // replica index table: one row per replica, id 0 keeps the original rows
    val reps = spark.range(k).select(col("id").as("rep"))

    val embOnly = opts.contains("emb-only")
    if (corpusOnly || embOnly) {
      writeCorpus(spark, src, dst, reps, write, hotShinglePct, dupVecPct,
        nearVecPct, embOnly)
      return
    }

    // --- small dims: fixed cardinality at any scale, copy verbatim ---
    if (!eventsOnly) for (t <- Seq("region", "nation"))
      write(Tables.table(spark, src, t), t)

    // --- star schema: replicate with consistent key shifts so joins hold ---
    if (!eventsOnly) {
    val cust = Tables.customer(spark, src)
    val supp = Tables.supplier(spark, src)
    val prt = Tables.part(spark, src)
    val ord = Tables.orders(spark, src)
    val li = Tables.lineitem(spark, src)
    val (cM, sM, pM, oM) = (
      maxOf(cust, "c_custkey") + 1,
      maxOf(supp, "s_suppkey") + 1,
      maxOf(prt, "p_partkey") + 1,
      maxOf(ord, "o_orderkey") + 1
    )

    def shiftRep(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      df.crossJoin(reps)
        .select(df.columns.toIndexedSeq.map { c =>
          shifts.get(c) match {
            case Some(m) => (col(c) + col("rep") * m).as(c)
            case None    => col(c)
          }
        }: _*)

    write(shiftRep(cust, Map("c_custkey" -> cM)), "customer")
    write(shiftRep(supp, Map("s_suppkey" -> sM)), "supplier")
    write(shiftRep(prt, Map("p_partkey" -> pM)), "part")
    write(shiftRep(ord, Map("o_orderkey" -> oM, "o_custkey" -> cM)), "orders")
    write(
      shiftRep(
        li,
        Map("l_orderkey" -> oM, "l_partkey" -> pM, "l_suppkey" -> sM)
      ),
      "lineitem"
    )
    }

    // --- events: seriesK new series × timeK appended time segments ---
    val ev0 = Tables.events(spark, src)
    // normalize to µs-since-epoch longs (robust to ns-Long vs timestamp ts)
    val ev = ev0.withColumn("ts_us", Tables.tsUs(ev0)).drop("ts")
    val evStats =
      ev.agg(max("event_id"), max("ts_us"), min("ts_us")).head()
    val eM = evStats.getLong(0) + 1
    // one-hour gap between appended segments so they never interleave
    val span = evStats.getLong(1) - evStats.getLong(2) + 3600L * 1000 * 1000
    val evReps = spark
      .range(seriesK)
      .select(col("id").as("s"))
      .crossJoin(spark.range(timeK).select(col("id").as("t")))
      .withColumn("rep", col("s") * timeK + col("t"))
    val evScaled0 = ev
      .crossJoin(evReps)
      .select(
        (col("event_id") + col("rep") * eM).as("event_id"),
        timestamp_micros(col("ts_us") + col("t") * span).as("ts"),
        col("user_id"),
        when(col("s") === 0, col("event_type"))
          .otherwise(concat(col("event_type"), lit("#"), col("s")))
          .as("event_type"),
        col("value"),
        col("props")
      )
    // power-law skew: remap skewPct% of ALL events (uniform over event_id,
    // so spread across the whole time axis) onto one hot user — the bot /
    // service-account shape that makes per-user window partitions straggle
    val evScaled =
      if (skewPct == 0) evScaled0
      else evScaled0.withColumn("user_id",
        when(pmod(col("event_id"), lit(100)) < skewPct, lit(1L))
          .otherwise(col("user_id")))
    write(evScaled, "events")

    if (!eventsOnly) writeCorpus(spark, src, dst, reps, write, hotShinglePct, dupVecPct, nearVecPct)

    println(s"[scale] done: $src -> $dst at ${seriesK}x${timeK} = ${k}x")
  }

  /** documents (half-splice expansion: new docs with realistic
    * partial-duplicate structure) + embeddings (per-replica perturbation).
    * Shared by the full fixture and the corpus-only 100× lane. */
  private def writeCorpus(spark: SparkSession, src: String, dst: String,
      reps: DataFrame, write: (DataFrame, String) => Unit,
      hotShinglePct: Int = 0, dupVecPct: Int = 0, nearVecPct: Int = 0,
      embOnly: Boolean = false): Unit = {

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0)

    if (!embOnly) writeDocs(spark, src, dst, reps, write, hotShinglePct)

    val emb = Tables.embeddings(spark, src)
    val vM = maxOf(emb, "vec_id") + 1
    val embScaled = emb
      .crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * vM).as("vec_id"),
        expr(
          "transform(embedding, (x, i) -> cast(x + 0.02 * sin(vec_id * 31.0d + i + rep * 7.0d) as float))"
        ).as("embedding"),
        col("label")
      )
    val embDup =
      if (dupVecPct == 0) embScaled
      else embScaled.withColumn("embedding",
        when(pmod(col("vec_id"), lit(100)) < dupVecPct,
          expr("transform(embedding, x -> CAST(0.25 AS FLOAT))"))
          .otherwise(col("embedding")))
    val embOut =
      if (nearVecPct == 0) embDup
      else embDup.withColumn("embedding",
        when(pmod(col("vec_id") + 50L, lit(100)) < nearVecPct,
          expr("transform(embedding, (x, i) -> CAST(0.25 + 0.0001 * sin(vec_id * 13.7D + i) AS FLOAT))"))
          .otherwise(col("embedding")))
    write(embOut, "embeddings")
  }

  private def writeDocs(spark: SparkSession, src: String, dst: String,
      reps: DataFrame, write: (DataFrame, String) => Unit,
      hotShinglePct: Int): Unit = {

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0)

    val docs = Tables.documents(spark, src).cache()
    val dM = maxOf(docs, "doc_id") + 1
    val nDocs = docs.count()
    val partners = docs.select(
      col("doc_id").as("p_key"),
      col("text").as("p_text")
    )
    val expanded = docs
      .crossJoin(reps)
      // partner walks a different stride per replica; rep 0 keeps originals
      .withColumn("p_key", pmod(col("doc_id") + col("rep") * 37L, lit(nDocs)))
      .join(broadcast(partners), Seq("p_key"), "left")
      .select(
        (col("doc_id") + col("rep") * dM).as("doc_id"),
        when(col("rep") === 0 || col("p_text").isNull, col("text"))
          .otherwise(
            concat(
              col("text").substr(lit(1), (length(col("text")) / 2).cast("int")),
              col("p_text").substr(
                (length(col("p_text")) / 2 + 1).cast("int"),
                lit(100000)
              )
            )
          )
          .as("text"),
        col("lang"),
        col("source")
      )
      .withColumn("n_chars", length(col("text")).cast("long"))
    // hot-shingle injection AFTER expansion, keyed on the EXPANDED doc_id
    // so the hot set is spread uniformly over replicas
    val hotPhrase = (0 until 350).map(i => s"zq${i}hot").mkString(" ")
    val withHot =
      if (hotShinglePct == 0) expanded
      else expanded
        .withColumn("text",
          when(pmod(col("doc_id"), lit(100)) < hotShinglePct,
            concat(col("text"), lit(" " + hotPhrase))).otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    write(withHot, "documents")
    docs.unpersist()
  }
}
