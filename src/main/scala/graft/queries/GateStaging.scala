package graft.queries

import org.apache.spark.sql.SparkSession
import graft.sources.ResultSink

/** Staged gate indexes (the EvalStaging discipline on the gate axis): the
  * semantic-gate batch twins consume a WRITTEN index — the production
  * contract (a streaming gate reads the flat or routed index parquet a
  * one-time build job wrote; it never rebuilds the corpus clustering per
  * micro-batch) — built once per (JVM, corpus) and read back by every
  * consumer. Before r13 each twin rebuilt its index inline per run (the
  * r12 verdict's INFO #2: 4.4–5.3 s/row of build cost misread as gate
  * cost); now Bench reports the two builds as their own `q_staging_gate`
  * row and q126/q127 report gate cost. The layouts are the one index
  * writers' ([[SimilarityQueries.writeGateIndexFlat]] /
  * [[SimilarityQueries.writeGateIndexStaged]]), so the streaming, bench
  * and production lanes can never drift; staging changes
  * where the tables are read from, never what they are (centroids are
  * exact longs, member vectors round-trip parquet bit-exactly — the
  * DuckDB oracles replay the full clustering from the corpus and still
  * hash-match).
  */
private[graft] object GateStaging {
  /** The flat (q113-cell) index dir for `d`, built+written on first use. */
  def flatDir(spark: SparkSession, d: String): String =
    StagingRoots.dir("gate", "flat", d) { path =>
      val (cents, members) = SimilarityQueries.semanticStreamIndex(spark, d)
      SimilarityQueries.writeGateIndexFlat(spark, path, cents, members)
    }

  /** The routed (q116-cell) index dir for `d`, built+written on first use. */
  def routedDir(spark: SparkSession, d: String): String =
    StagingRoots.dir("gate", "routed", d) { path =>
      val (coarse, fineRouted, members) = SimilarityQueries.semanticStreamIndexStaged(spark, d)
      SimilarityQueries.writeGateIndexStaged(spark, path, coarse, fineRouted, members)
      ()
    }

  // ---------------------------------------------------------------------
  // Memoized ROUTING-TABLE reads (r16, guide §5 "no blocking driver jobs
  // in query paths"): the gates' collected routing state (the flat
  // centroid table, the routed head's O(√K) coarse table) is read from
  // the staged parquet — an orderBy+collect driver job per CONSTRUCTION
  // of q126/q127, i.e. twice per bench row under best-of-2, for tables
  // that are immutable for the life of the staged dir. A production
  // streaming gate loads its routing tables ONCE per gate lifetime and
  // holds them resident across micro-batches (semanticAdmitLoop already
  // hoists them outside the stream for exactly this reason —
  // StreamingOps.scala "frozen routing tables" contract); re-collecting
  // per constructed batch query was startup accounting, not gate cost.
  // Memoized per (JVM, corpus) — pure immutable driver objects (no
  // DataFrame, so no cache release can invalidate them and no cached frame
  // outlives the run that built it), keyed next to the staged dirs they
  // were read from. The QUERY still computes its
  // result from the parquet corpus every run; only the index-table load
  // is amortized, the same line the r13 staging split drew for the index
  // BUILD.

  /** The flat gate's centroid table, collected once per (JVM, corpus). */
  def flatCents(spark: SparkSession, d: String): Seq[Seq[Long]] = {
    val idx = flatDir(spark, d)
    StagingRoots.memoized(s"gate_flatcents_${StagingRoots.pathKey(d)}") {
      SimilarityQueries.readFlatCents(spark, idx)
    }
  }

  /** The routed gate's tables: the O(√K) coarse table, collected once
    * per (JVM, corpus), and the fine cells as an unpersisted plan over
    * the written fine.parquet in the caller's session. */
  def routedTables(spark: SparkSession, d: String): SimilarityQueries.StagedGateTables = {
    val idx = routedDir(spark, d)
    val (nonEmpty, coarse) =
      StagingRoots.memoized(s"gate_routedcoarse_${StagingRoots.pathKey(d)}") {
        SimilarityQueries.readCoarse(ResultSink.read(spark, s"$idx/coarse.parquet"))
      }
    SimilarityQueries.StagedGateTables(nonEmpty, coarse,
      SimilarityQueries.stagedCells(ResultSink.read(spark, s"$idx/fine.parquet")))
  }

  /** PRISTINE staged index over the q130 BASE slice (vec_id % 4 != 0 of
    * `embeddings`), memoized per (JVM, corpus). Never mutated — the
    * append lifecycle copies it into a fresh workdir per invocation. */
  private def appendBasePristineDir(spark: SparkSession, d: String): String =
    StagingRoots.dir("gate", "appendbase", d) { path =>
      import org.apache.spark.sql.functions.col
      val (coarse, fineRouted, members) = SimilarityQueries
        .semanticStreamIndexStagedFrom(
          graft.Tables.embeddings(spark, d)
            .filter(col("vec_id") % 4 =!= 0)
            .select(col("vec_id"), col("embedding")))
      SimilarityQueries.writeGateIndexStaged(spark, path, coarse, fineRouted, members)
      ()
    }

  /** A FRESH mutable copy of the pristine q130 base index — one per call,
    * because [[SimilarityQueries.semanticIndexAppend]]/compact mutate the
    * dir in place and a re-run (Bench after Verify, a second Bench pass)
    * must start from the same pristine state, not from the previous run's
    * appended generations. The copy lives under the staging root, swept
    * on JVM exit — AND the caller's PREVIOUS workdir is deleted on its
    * next call (per-thread: every caller fully materializes one
    * lifecycle before requesting the next, so the predecessor is dead by
    * then; cross-thread callers never share a slot), so a long sf0.1
    * session of repeated q130 runs holds at most one live copy per
    * thread instead of accumulating full index copies until JVM exit
    * (r14 advice). */
  private val prevWorkdir = new ThreadLocal[java.nio.file.Path]
  def appendWorkdir(spark: SparkSession, d: String): String = {
    val pristine = appendBasePristineDir(spark, d)
    Option(prevWorkdir.get()).foreach(StagingRoots.deleteRecursively)
    val work = java.nio.file.Files.createTempDirectory(StagingRoots.root, "appendwork_")
    StagingRoots.copyRecursively(java.nio.file.Paths.get(pristine), work)
    prevWorkdir.set(work)
    work.toString
  }

  /** Pre-build the selected layouts (the Bench `q_staging_gate` hook) —
    * a filtered bench run that selects only q126 stages only the flat
    * index; q127/q129-only runs stage only the routed one (r13 review);
    * q130 stages the pristine append-lifecycle BASE index (r14: its
    * build otherwise lands inside q130's first timed run — the exact
    * build-cost-in-gate-rows accounting r13 fixed for the twins).
    *
    * The selected builds run CONCURRENTLY (r16): the three indexes are
    * independent (different source slices, dirs and memo keys), and each
    * is a chain of small sequential stages, stage-latency-bound rather
    * than CPU-bound at bench SF.
    *
    * The flat/routed lanes warm their ROUTING-TABLE memos here too (r16
    * ADVICE): the one-time orderBy+collect otherwise lands inside
    * q126/q127's FIRST timed run and only drops out of the reported
    * number when best-of-2 triggers — warming in build() charges the
    * resident-tables load to q_staging_gate deterministically. */
  def build(spark: SparkSession, d: String,
      flat: Boolean = true, routed: Boolean = true,
      appendBase: Boolean = false): Unit = {
    StagingRoots.all(Seq(
      (flat, () => { flatCents(spark, d); () }),
      (routed, () => { routedTables(spark, d); () }),
      (appendBase, () => { appendBasePristineDir(spark, d); () })
    ).collect { case (true, b) => b })
    ()
  }
}
