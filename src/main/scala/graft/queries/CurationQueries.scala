package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation planning operators for a large-scale training-data
  * pipeline: domain-mixture token-budget allocation (the Pile/DoReMi-style
  * "how many tokens do I take from each domain" step), DSIR-style
  * importance-weighted data selection (hashed n-gram likelihood ratios,
  * Xie et al. 2023), and a PII/compliance census (regex detector classes
  * + redaction accounting).
  *
  * Scale design shared by all three: the corpus is only ever touched by
  * map-only projections (tokenize/hash/regex) plus aggregations onto
  * BOUNDED keyspaces — (lang, source) domains, 4096 hash buckets, PII
  * classes — so every shuffle payload is independent of corpus size. The
  * mixture solve itself runs on the domain histogram (≤ #domains rows),
  * never on documents. Cross-engine float parity follows the repo's exact
  * integer micro-unit discipline (see q57/q63): weights, likelihood
  * ratios, and scores are quantized to integer micro-units before any
  * reordering aggregation, so sums are order-insensitive and bit-exact.
  */
object CurationQueries {

  type Q = (SparkSession, String) => DataFrame

  private def toks(c: Column): Column = split(trim(c), "\\s+")
  private val toksSql = raw"regexp_split_to_array(trim(text), '\s+')"
  import TextOps.{md5Int, md5IntSql}

  // ---------------------------------------------------------------------------
  // q65 — domain-mixture token-budget allocation by water-filling.
  //
  // Input: the (lang, source) domain histogram of token counts t_d (one
  // corpus pass, map-side combined). Mixture target: weight w_d ∝ √t_d
  // (the classic square-root smoothing that upweights small domains),
  // budget B = 60% of total tokens, per-domain cap c_d = 2·t_d (≤ 2
  // epochs — repeating data more degrades models). Allocation is the
  // water-filling solution a_d = min(c_d, λ·w_d) with Σ a_d = B, solved
  // CLOSED-FORM with window functions: sort domains by ratio r_d = c_d/w_d
  // ascending; the first position where the candidate water level
  // λ_i = (B − Σ_{j<i} c_j) / (W − Σ_{j<i} w_j) drops to ≤ r_i is the
  // level; everything before it is capped. No iteration, no driver loop —
  // the same shape works for 10 or 10,000 domains.
  //
  // Exactness: t_d, c_d are BIGINT; w_d is quantized to integer micro-units
  // (⌊√t·1e6⌋, sqrt is IEEE-exact in both engines), so every cumulative
  // sum in the solve is integer math — the only doubles are single
  // divisions/multiplications on identical operands, which are bit-exact
  // across engines. Ties in r_d order deterministically by (lang, source).
  def q65MixtureWaterfill(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dom = Tables.documents(spark, d)
      .withColumn("n_tok", size(toks(col("text"))).cast("long"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_tok")).as("t"))
      .withColumn("wt", floor(sqrt(col("t").cast("double")) * lit(1e6)))
      .withColumn("cap", col("t") * lit(2L))
    val tot = dom.agg(
      sum(col("wt")).as("w_total"), sum(col("t")).as("t_total"))
    // The solve runs on the domain histogram — tiny at any corpus size —
    // so a single-partition window here is the right plan, not a smell.
    val w = Window.orderBy(col("r"), col("lang"), col("source"))
    val ranked = dom.crossJoin(broadcast(tot))
      .withColumn("budget", expr("(t_total * 6) div 10"))
      .withColumn("r", col("cap").cast("double") / col("wt").cast("double"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cum_c_excl", coalesce(sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cum_w_excl", coalesce(sum(col("wt")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("lam_i",
        (col("budget") - col("cum_c_excl")).cast("double") /
          (col("w_total") - col("cum_w_excl")).cast("double"))
    // water level = the first (smallest-r) position whose candidate level
    // is feasible; NULL when B ≥ Σc (then every domain is capped)
    val star = ranked.filter(col("lam_i") <= col("r"))
      .agg(min(struct(col("rn"), col("lam_i"))).as("s"))
      .select(col("s").getField("rn").as("rn_star"),
        col("s").getField("lam_i").as("lam_star"))
    ranked.crossJoin(broadcast(star))
      .withColumn("capped", col("rn_star").isNull || col("rn") < col("rn_star"))
      .withColumn("alloc", when(col("capped"), col("cap").cast("double"))
        .otherwise(col("lam_star") * col("wt").cast("double")))
      .select(col("lang"), col("source"), col("t").as("tokens"),
        round(col("wt").cast("double") / col("w_total").cast("double"), 6)
          .as("mix_weight"),
        col("capped"),
        round(col("alloc"), 4).as("alloc_tokens"),
        round(col("alloc") / col("t").cast("double"), 6).as("epochs"))
      .orderBy(col("lang"), col("source"))
  }

  val q65Sql: String =
    s"""WITH dom AS (
       |  SELECT lang, source, CAST(sum(len($toksSql)) AS BIGINT) AS t
       |  FROM documents GROUP BY lang, source),
       |d2 AS (
       |  SELECT lang, source, t,
       |    CAST(floor(sqrt(t::DOUBLE) * 1e6) AS BIGINT) AS wt,
       |    t * 2 AS cap
       |  FROM dom),
       |tot AS (
       |  SELECT CAST(sum(wt) AS BIGINT) AS w_total,
       |    CAST(sum(t) AS BIGINT) AS t_total FROM d2),
       |ranked AS (
       |  SELECT d2.*, tot.w_total, (tot.t_total * 6) // 10 AS budget,
       |    cap::DOUBLE / wt::DOUBLE AS r,
       |    row_number() OVER ord AS rn,
       |    CAST(coalesce(sum(cap) OVER (ord ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS BIGINT) AS cum_c_excl,
       |    CAST(coalesce(sum(wt) OVER (ord ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS BIGINT) AS cum_w_excl
       |  FROM d2, tot
       |  WINDOW ord AS (ORDER BY cap::DOUBLE / wt::DOUBLE, lang, source)),
       |r2 AS (
       |  SELECT *, (budget - cum_c_excl)::DOUBLE
       |    / (w_total - cum_w_excl)::DOUBLE AS lam_i FROM ranked),
       |star AS (
       |  SELECT min(rn) AS rn_star, arg_min(lam_i, rn) AS lam_star
       |  FROM r2 WHERE lam_i <= r),
       |alloc AS (
       |  SELECT r2.*, star.rn_star,
       |    CASE WHEN star.rn_star IS NULL OR r2.rn < star.rn_star
       |         THEN r2.cap::DOUBLE
       |         ELSE star.lam_star * r2.wt::DOUBLE END AS a
       |  FROM r2, star)
       |SELECT lang, source, t AS tokens,
       |  round(wt::DOUBLE / w_total::DOUBLE, 6) + 0.0 AS mix_weight,
       |  (rn_star IS NULL OR rn < rn_star) AS capped,
       |  round(a, 4) + 0.0 AS alloc_tokens,
       |  round(a / t::DOUBLE, 6) + 0.0 AS epochs
       |FROM alloc ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------------
  // q66 — DSIR-style importance-weighted data selection (hashed unigram
  // likelihood ratios): score every document by how much more likely its
  // tokens are under a TARGET distribution (here: the English slice, as
  // the stand-in for "high-quality reference corpus") than under the
  // corpus-wide distribution, then census the kept set per language.
  //
  // Two corpus passes, exactly like production DSIR: (1) one aggregation
  // onto 4096 hash buckets computing target and corpus token counts
  // TOGETHER (count + count_if — one shuffle, 4096 keys, map-side
  // combined); (2) a map-only rescore pass joining each token's bucket
  // against the BROADCAST 4096-row log-ratio table, then one shuffle by
  // doc_id to sum per-doc scores. The LM table is fixed-size (4096 rows)
  // no matter the corpus — that bound is the whole point of hashed DSIR.
  //
  // Exactness: the per-bucket log-ratio ln((ct+1)(Nc+B) / ((cc+1)(Nt+B)))
  // is computed from exactly-representable integer products (< 2^53) with
  // ONE division and ONE ln, then floored to integer micro-units; per-doc
  // and per-lang sums are then pure BIGINT math — order-insensitive, so
  // partial aggregation cannot perturb the result.
  private[graft] val DsirBuckets = 4096

  def q66DsirSelection(spark: SparkSession, d: String): DataFrame = {
    val exploded = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("w"))
      .withColumn("hb", md5Int(col("w")) % lit(DsirBuckets))
    val counts = exploded.groupBy(col("hb")).agg(
      count(lit(1)).as("cc"),
      count_if(col("lang") === "en").as("ct"))
    val tot = counts.agg(sum(col("cc")).as("nc"), sum(col("ct")).as("nt"))
    val lm = counts.crossJoin(broadcast(tot))
      .withColumn("num",
        ((col("ct") + lit(1L)) * (col("nc") + lit(DsirBuckets.toLong))).cast("double"))
      .withColumn("den",
        ((col("cc") + lit(1L)) * (col("nt") + lit(DsirBuckets.toLong))).cast("double"))
      .withColumn("lr_micro", floor(log(col("num") / col("den")) * lit(1e6)))
      .select(col("hb"), col("lr_micro"))
    val scored = exploded
      .join(broadcast(lm), Seq("hb"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lr_micro")).as("s_micro"), count(lit(1)).as("n_tok"))
    // Selection gate: docs whose per-token score beats the corpus-wide
    // average per-token score. The absolute score carries a systematic
    // smoothing offset (4096-bucket Laplace mass vs a small occupied
    // vocabulary), so DSIR selection is always relative — and the gate is
    // exact-integer via cross-multiplication, no float division. The
    // products are evaluated in 128-bit space (decimal(38,0) here,
    // HUGEINT in the oracle): in 64-bit they overflowed exactly at the
    // design regime — a 1e13-token corpus at ~1e4 average |per-token
    // micro score| makes tot_s · n_tok exceed 2^63 for any ≥100-token
    // doc, and Spark's non-ANSI BIGINT silently wraps where DuckDB
    // raises (r13 review).
    val gtot = scored.agg(
      sum(col("s_micro")).as("tot_s"), sum(col("n_tok")).as("tot_n"))
    scored.crossJoin(broadcast(gtot))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("s_micro").cast("decimal(38,0)") * col("tot_n")
            > col("tot_s").cast("decimal(38,0)") * col("n_tok"))
          .as("n_selected"),
        sum(col("s_micro")).as("sum_score_micro"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("avg_token_score",
        round(col("sum_score_micro").cast("double")
          / col("n_tokens").cast("double") / lit(1e6), 6))
      .orderBy(col("lang"))
  }

  val q66Sql: String = {
    val b = DsirBuckets
    s"""WITH ex AS (
       |  SELECT doc_id, lang, ${md5IntSql("w")} % $b AS hb
       |  FROM (SELECT doc_id, lang, unnest($toksSql) AS w FROM documents)),
       |counts AS (
       |  SELECT hb, count(*) AS cc,
       |    count(*) FILTER (WHERE lang = 'en') AS ct
       |  FROM ex GROUP BY hb),
       |tot AS (
       |  SELECT CAST(sum(cc) AS BIGINT) AS nc,
       |    CAST(sum(ct) AS BIGINT) AS nt FROM counts),
       |lm AS (
       |  SELECT hb, CAST(floor(ln(
       |      ((ct + 1) * (nc + $b))::DOUBLE / ((cc + 1) * (nt + $b))::DOUBLE
       |    ) * 1e6) AS BIGINT) AS lr_micro
       |  FROM counts, tot),
       |scored AS (
       |  SELECT ex.doc_id, ex.lang,
       |    CAST(sum(lm.lr_micro) AS BIGINT) AS s_micro,
       |    count(*) AS n_tok
       |  FROM ex JOIN lm USING (hb)
       |  GROUP BY ex.doc_id, ex.lang),
       |gtot AS (
       |  SELECT CAST(sum(s_micro) AS BIGINT) AS tot_s,
       |    CAST(sum(n_tok) AS BIGINT) AS tot_n FROM scored)
       |SELECT lang, count(*) AS n_docs,
       |  count(*) FILTER (WHERE s_micro::HUGEINT * tot_n > tot_s::HUGEINT * n_tok)
       |    AS n_selected,
       |  CAST(sum(s_micro) AS BIGINT) AS sum_score_micro,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(s_micro) AS BIGINT)::DOUBLE
       |    / CAST(sum(n_tok) AS BIGINT)::DOUBLE / 1e6, 6) + 0.0
       |    AS avg_token_score
       |FROM scored, gtot GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q67 — PII/compliance census: per-document detector counts for the
  // standard regex classes (email, IPv4, phone, SSN-shaped, long card-like
  // digit runs), a flagged-document count, and redaction accounting
  // (characters removed if every match were replaced by a fixed tag),
  // aggregated per source. Pure map-only regex kernel + tiny census — the
  // 100 TB shape of a compliance scan.
  //
  // The synthetic corpus contains no digits or '@' (verified), so every
  // detector count here is zero — the oracle still pins the full kernel
  // plumbing cross-engine, and CurationSpec exercises the same detector
  // expressions on crafted strings with known match counts (both engines'
  // regex dialects are held to the common RE2/Java subset: no lookahead,
  // no backrefs).
  val piiClasses: Seq[(String, String)] = Seq(
    "email" -> raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4" -> raw"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone" -> raw"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ssn" -> raw"\b\d{3}-\d{2}-\d{4}\b",
    "card" -> raw"\b\d{13,19}\b")

  /** Per-document detector columns (exposed for CurationSpec's
    * crafted-string kernel tests): one match count per class plus the
    * redacted-length delta under the combined alternation. */
  def withPiiColumns(df: DataFrame): DataFrame = {
    val combined = piiClasses.map(_._2).mkString("(?:", ")|(?:", ")")
    val withCounts = piiClasses.foldLeft(df) { case (acc, (name, re)) =>
      acc.withColumn(s"n_$name", regexp_count(col("text"), lit(re)))
    }
    withCounts
      .withColumn("pii_flagged",
        piiClasses.map(c => col(s"n_${c._1}") > 0).reduce(_ || _))
      .withColumn("chars_redacted",
        length(col("text"))
          - length(regexp_replace(col("text"), combined, "<PII>"))
          + regexp_count(col("text"), lit(combined)) * lit(5))
  }

  def q67PiiCensus(spark: SparkSession, d: String): DataFrame = {
    val scored = withPiiColumns(Tables.documents(spark, d))
    val aggs: Seq[Column] =
      count_if(col("pii_flagged")).as("n_flagged") +:
        sum(col("chars_redacted")).cast("long").as("chars_redacted") +:
        piiClasses.map { case (name, _) =>
          sum(col(s"n_$name")).cast("long").as(s"n_$name")
        }
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .orderBy(col("source"))
  }

  val q67Sql: String = {
    val combined = piiClasses.map(_._2).mkString("(?:", ")|(?:", ")")
    val perClass = piiClasses.map { case (name, re) =>
      s"CAST(sum(len(regexp_extract_all(text, '$re'))) AS BIGINT) AS n_$name"
    }.mkString(",\n       |  ")
    val flagged = piiClasses.map { case (_, re) =>
      s"len(regexp_extract_all(text, '$re')) > 0"
    }.mkString(" OR ")
    s"""SELECT source, count(*) AS n_docs,
       |  count(*) FILTER (WHERE $flagged) AS n_flagged,
       |  CAST(sum(length(text) - length(regexp_replace(text, '$combined',
       |    '<PII>', 'g')) + 5 * len(regexp_extract_all(text, '$combined')))
       |    AS BIGINT) AS chars_redacted,
       |  $perClass
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** The q66 DSIR model in reusable form, for the streaming gate: the
    * occupied-bucket log-ratio table, the default log-ratio for buckets
    * the static corpus never touched (cc = ct = 0 under the same +1
    * Laplace smoothing), and the corpus-wide per-token score threshold
    * (tot_s, tot_n) as exact integers. Two tiny collects (2 longs each) —
    * the model itself stays a DataFrame to broadcast. */
  private[graft] final case class DsirModel(
      lm: DataFrame, defaultLrMicro: Long, totS: Long, totN: Long)

  private[graft] def dsirModel(spark: SparkSession, d: String): DsirModel = {
    val exploded = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("w"))
      .withColumn("hb", md5Int(col("w")) % lit(DsirBuckets))
    val counts = exploded.groupBy(col("hb")).agg(
      count(lit(1)).as("cc"),
      count_if(col("lang") === "en").as("ct"))
    val tot = counts.agg(sum(col("cc")).as("nc"), sum(col("ct")).as("nt"))
    val lm = counts.crossJoin(broadcast(tot))
      .withColumn("num",
        ((col("ct") + lit(1L)) * (col("nc") + lit(DsirBuckets.toLong))).cast("double"))
      .withColumn("den",
        ((col("cc") + lit(1L)) * (col("nt") + lit(DsirBuckets.toLong))).cast("double"))
      .withColumn("lr_micro", floor(log(col("num") / col("den")) * lit(1e6)).cast("long"))
      .select(col("hb"), col("lr_micro"))
    val t = tot.head()
    val (nc, nt) = (t.getLong(0), t.getLong(1))
    val defaultLr = math.floor(math.log(
      (nc + DsirBuckets).toDouble / (nt + DsirBuckets).toDouble) * 1e6).toLong
    val g = exploded.join(broadcast(lm), Seq("hb"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lr_micro")).as("s_micro"), count(lit(1)).as("n_tok"))
      .agg(sum(col("s_micro")), sum(col("n_tok"))).head()
    DsirModel(lm, defaultLr, g.getLong(0), g.getLong(1))
  }

  // ---------------------------------------------------------------------------
  // q73 — hashed linear quality-classifier scoring (the fastText-style
  // inference pass every production curation pipeline runs: hash each
  // token into a bounded feature space, sum the per-bucket weights, gate
  // on the sign). The weight VECTOR is a deterministic arithmetic stand-in
  // for a trained model (the container ships no model artifacts — same
  // honesty rule as the multimodal codec stub): bucket b's micro-weight is
  // ((b·2654435761) mod 2003) − 1001 ∈ [−1001, 1001], exactly computable
  // in both engines (products < 2^42). What IS real and load-bearing is
  // the Spark shape: map-only tokenize→hash→weight-sum per document
  // (BIGINT micro-units — order-insensitive, partial-agg safe), the
  // sign gate in exact integers, and a (lang, source) census as the only
  // shuffle. Swapping in real weights = broadcasting a 2^20-row weight
  // table and joining on the bucket — the q66 DSIR join shape.
  private val ClsBuckets = 1024

  def q73QualityClassifier(spark: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(toks(col("text"))).as("w"))
      .withColumn("hb", md5Int(col("w")) % lit(ClsBuckets))
      .withColumn("wm", (col("hb") * lit(2654435761L)) % lit(2003L) - lit(1001L))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sum(col("wm")).as("s_micro"), count(lit(1)).as("n_tok"))
    scored
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("s_micro") > 0).as("n_accepted"),
        round(avg(col("s_micro").cast("double")
          / col("n_tok").cast("double") / lit(1000.0)), 6).as("avg_doc_score"))
      .orderBy(col("lang"), col("source"))
  }

  val q73Sql: String =
    s"""WITH ex AS (
       |  SELECT doc_id, lang, source,
       |    ${md5IntSql("w")} % $ClsBuckets AS hb
       |  FROM (SELECT doc_id, lang, source, unnest($toksSql) AS w
       |        FROM documents)),
       |scored AS (
       |  SELECT doc_id, lang, source,
       |    CAST(sum((hb * 2654435761) % 2003 - 1001) AS BIGINT) AS s_micro,
       |    count(*) AS n_tok
       |  FROM ex GROUP BY doc_id, lang, source)
       |SELECT lang, source, count(*) AS n_docs,
       |  count(*) FILTER (WHERE s_micro > 0) AS n_accepted,
       |  round(avg(s_micro::DOUBLE / n_tok::DOUBLE / 1000.0), 6) + 0.0
       |    AS avg_doc_score
       |FROM scored GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------------
  // q77 — hashed bigram LM perplexity filter (the KenLM-style quality gate
  // production pipelines run: train a small LM on the high-quality slice,
  // drop documents the model finds surprising). Train = TWO bounded
  // aggregations over the target (en) slice's word bigrams: context
  // counts onto 1024 hash buckets and pair counts onto 4096 — both
  // map-side combined, shuffles carry only bucket keys. Score = a map-only
  // pass joining each document's bigrams against the two BROADCAST count
  // tables: per-pair log P(w|ctx) = ln((cp+1)/(cc+4096)) under +1
  // smoothing, floored to integer micro-units so per-doc sums are exact
  // BIGINT math. The keep gate is RELATIVE (per-bigram avg log-prob beats
  // the corpus average) in exact integer cross-multiplication — the same
  // discipline as q66, because absolute smoothed log-probs carry a
  // systematic hash-space offset. Documents with <2 tokens have no
  // bigrams and are excluded (undefined perplexity), identically in both
  // engines. q66 scores marginal token likelihood ratios; this scores
  // CONDITIONAL bigram likelihood — the two disagree exactly where word
  // order matters, which is the point.
  private val LmCtxBuckets = 1024
  private val LmPairBuckets = 4096

  def q77PerplexityFilter(spark: SparkSession, d: String): DataFrame = {
    // persisted: the hashed-bigram projection feeds both the training
    // aggregation and the scoring pass — without it the corpus is
    // tokenized twice (measured 8.0 s → ~5 s at sf0.1)
    // the token array is hoisted to a column BEFORE the pair lambda:
    // inlining split() in the lambda re-tokenizes the document once per
    // bigram (O(len²) per doc — measured 45 s cold at the 10× rehearsal,
    // ~6× the whole query's warm cost)
    // size(t) >= 2 guard BEFORE the sequence: sequence(1, size-1) with a
    // 1-token doc steps DOWNWARD ([1, 0]) and element_at(t, 0) throws —
    // the oracle's range(1, 1) yields empty, so the guard keeps parity
    val pairs = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          """transform(sequence(1, size(t) - 1),
            |  i -> struct(element_at(t, i) AS p, element_at(t, i + 1) AS w))"""
            .stripMargin)).as("pr"))
      .select(col("doc_id"), col("lang"),
        (md5Int(col("pr.p")) % lit(LmCtxBuckets)).as("cb"),
        (md5Int(concat(col("pr.p"), lit(" "), col("pr.w")))
          % lit(LmPairBuckets)).as("pb"))
      .transform(StagingRoots.persist)
    // ONE corpus-side aggregation: context counts are the pair counts
    // summed over pb (every bigram contributes to exactly one pair key),
    // so the second stage runs on the bounded (cb, pb) table
    val pair = pairs.filter(col("lang") === "en")
      .groupBy(col("cb"), col("pb")).agg(count(lit(1)).as("cp"))
    val ctx = pair.groupBy(col("cb")).agg(sum(col("cp")).as("cc"))
    val lm = pair.join(ctx, Seq("cb"))
      .withColumn("lp_micro", floor(log(
        (col("cp") + lit(1L)).cast("double") /
          (col("cc") + lit(LmPairBuckets.toLong)).cast("double")) * lit(1e6))
        .cast("long"))
      .select(col("cb"), col("pb"), col("lp_micro"))
    // bigrams unseen in the target slice: +1-smoothed against the context
    // count if the context is known, else against an empty context
    val ctxOnly = ctx.withColumn("lp0_micro", floor(log(
        lit(1.0) / (col("cc") + lit(LmPairBuckets.toLong)).cast("double")) * lit(1e6))
      .cast("long"))
      .select(col("cb"), col("lp0_micro"))
    val defaultLp = math.floor(math.log(1.0 / LmPairBuckets) * 1e6).toLong
    val scored = pairs
      .join(broadcast(lm), Seq("cb", "pb"), "left")
      .join(broadcast(ctxOnly), Seq("cb"), "left")
      .withColumn("lp", coalesce(col("lp_micro"), col("lp0_micro"), lit(defaultLp)))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lp")).as("s_micro"), count(lit(1)).as("n_bg"))
    val gtot = scored.agg(
      sum(col("s_micro")).as("tot_s"), sum(col("n_bg")).as("tot_n"))
    scored.crossJoin(broadcast(gtot))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("s_micro").cast("decimal(38,0)") * col("tot_n")
            > col("tot_s").cast("decimal(38,0)") * col("n_bg"))
          .as("n_kept"),
        sum(col("n_bg")).as("n_bigrams"),
        round(sum(col("s_micro")).cast("double")
          / sum(col("n_bg")).cast("double") / lit(1e6), 6).as("avg_logprob"))
      .orderBy(col("lang"))
  }

  val q77Sql: String = {
    val bc = LmCtxBuckets
    val bp = LmPairBuckets
    val defaultLp = math.floor(math.log(1.0 / bp) * 1e6).toLong
    s"""WITH px AS (
       |  SELECT doc_id, lang,
       |    ${md5IntSql("pr.p")} % $bc AS cb,
       |    ${md5IntSql("pr.p || ' ' || pr.w")} % $bp AS pb
       |  FROM (
       |    SELECT doc_id, lang,
       |      unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
       |        i -> struct_pack(p := t[i], w := t[i + 1]))) AS pr
       |    FROM (SELECT doc_id, lang, $toksSql AS t FROM documents))),
       |ctx AS (
       |  SELECT cb, count(*) AS cc FROM px WHERE lang = 'en' GROUP BY cb),
       |pairlm AS (
       |  SELECT cb, pb, CAST(floor(ln(
       |      (count(*) + 1)::DOUBLE / (any_value(cc) + $bp)::DOUBLE) * 1e6)
       |    AS BIGINT) AS lp_micro
       |  FROM px JOIN ctx USING (cb) WHERE lang = 'en' GROUP BY cb, pb),
       |ctxlm AS (
       |  SELECT cb, CAST(floor(ln(1.0 / (cc + $bp)::DOUBLE) * 1e6) AS BIGINT)
       |    AS lp0_micro
       |  FROM ctx),
       |scored AS (
       |  SELECT doc_id, lang,
       |    CAST(sum(coalesce(lp_micro, lp0_micro, $defaultLp)) AS BIGINT)
       |      AS s_micro,
       |    count(*) AS n_bg
       |  FROM px
       |  LEFT JOIN pairlm USING (cb, pb)
       |  LEFT JOIN ctxlm USING (cb)
       |  GROUP BY doc_id, lang),
       |gtot AS (
       |  SELECT CAST(sum(s_micro) AS BIGINT) AS tot_s,
       |    CAST(sum(n_bg) AS BIGINT) AS tot_n FROM scored)
       |SELECT lang, count(*) AS n_docs,
       |  count(*) FILTER (WHERE s_micro::HUGEINT * tot_n > tot_s::HUGEINT * n_bg) AS n_kept,
       |  CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
       |  round(CAST(sum(s_micro) AS BIGINT)::DOUBLE
       |    / CAST(sum(n_bg) AS BIGINT)::DOUBLE / 1e6, 6) + 0.0 AS avg_logprob
       |FROM scored, gtot GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q109 — temperature-scaled mixture sampling (the T5/PaLM α-sampling
  // rule that complements q65's budget solve and q53's split): domain d
  // gets sampling mass ∝ n_d^α with α = 0.5, flattening the mixture so
  // small domains aren't drowned; the realized sample is the
  // deterministic per-domain md5-rank prefix, so reruns and backfills
  // select the SAME documents (q53's property).
  //
  // Cross-engine exactness: weights enter as integer micro-units
  // (round(√n·10⁶) — q63/q66's pattern), their total is an ORDER-FREE
  // integer sum, and the selection gate is the BIGINT cross-multiply
  // rank·W_µ ≤ T·w_µ — no double summation order, no floor boundary.
  // The selected SET itself is pinned by an exact id-sum per domain
  // (q90's trick), not just counts.
  //
  // Scale shape: the domain histogram is a tiny map-side-combined census
  // broadcast back; ranking is the q95 bucketed two-phase form — language
  // cardinality is small and fixed, so a plain per-lang window would
  // serialize the dominant language (~most of a real corpus) onto one
  // task (r13 review); bucket = h div 2^20 is monotone in h, so
  // boff + within-bucket row_number is IDENTICAL to the single-window
  // rank (the oracle still states the plain window and hash-matches).
  def q109TemperatureSampling(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("lang"))
      .withColumn("h", md5Int(col("doc_id").cast("string")))
      .withColumn("bucket", floor(col("h") / lit(1L << 20)))
    val cnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w_micro", round(sqrt(col("n")) * 1e6).cast("long"))
    val tot = cnt.agg(sum(col("n")).as("tot_n"),
      sum(col("w_micro")).as("tot_w"))
    val bCnt = docs.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
    val wB = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bCnt
      .withColumn("boff", coalesce(sum(col("bn")).over(wB), lit(0L)))
      .select(col("lang"), col("bucket"), col("boff"))
    val wIn = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    val ranked = docs
      .join(broadcast(offs), Seq("lang", "bucket"))
      .withColumn("rnk",
        (col("boff") + row_number().over(wIn)).cast("long"))
      .join(broadcast(cnt), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("target", expr("tot_n div 4"))
      .withColumn("selected",
        col("rnk") * col("tot_w") <= col("target") * col("w_micro"))
    ranked.groupBy(col("lang"))
      .agg(any_value(col("n")).as("n_docs"),
        any_value(col("w_micro")).as("w_micro"),
        count_if(col("selected")).as("n_selected"),
        sum(when(col("selected"), col("doc_id")).otherwise(0L)).as("sel_id_sum"),
        (round(count_if(col("selected")).cast("double") / any_value(col("n")), 6)
          + 0.0).as("sample_rate"))
      .orderBy(col("lang"))
  }

  val q109Sql: String =
    s"""WITH docs AS (SELECT doc_id, lang FROM documents),
      |cnt AS (
      |  SELECT lang, count(*) AS n,
      |    round(sqrt(count(*)) * 1000000.0)::BIGINT AS w_micro
      |  FROM docs GROUP BY lang),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS tot_n,
      |    CAST(sum(w_micro) AS BIGINT) AS tot_w FROM cnt),
      |ranked AS (
      |  SELECT docs.lang, docs.doc_id, cnt.n, cnt.w_micro,
      |    row_number() OVER (PARTITION BY docs.lang
      |      ORDER BY ${md5IntSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rnk,
      |    tot.tot_n // 4 AS target, tot.tot_w
      |  FROM docs JOIN cnt ON cnt.lang = docs.lang CROSS JOIN tot)
      |SELECT lang, any_value(n) AS n_docs, any_value(w_micro) AS w_micro,
      |  count(*) FILTER (WHERE rnk * tot_w <= target * w_micro) AS n_selected,
      |  CAST(coalesce(sum(doc_id) FILTER (WHERE rnk * tot_w <= target * w_micro), 0)
      |    AS BIGINT) AS sel_id_sum,
      |  round(count(*) FILTER (WHERE rnk * tot_w <= target * w_micro)::DOUBLE
      |    / any_value(n), 6) + 0.0 AS sample_rate
      |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin

  val all: Map[String, Q] = Map(
    "q109_temperature_sampling" -> (q109TemperatureSampling _),
    "q65_mixture_waterfill" -> (q65MixtureWaterfill _),
    "q66_dsir_selection" -> (q66DsirSelection _),
    "q67_pii_census" -> (q67PiiCensus _),
    "q73_quality_classifier" -> (q73QualityClassifier _),
    "q77_perplexity_filter" -> (q77PerplexityFilter _))

  val oracles: Map[String, String] = Map(
    "q109_temperature_sampling" -> q109Sql,
    "q65_mixture_waterfill" -> q65Sql,
    "q66_dsir_selection" -> q66Sql,
    "q67_pii_census" -> q67Sql,
    "q73_quality_classifier" -> q73Sql,
    "q77_perplexity_filter" -> q77Sql)
}
