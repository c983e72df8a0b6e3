package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a large-scale training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID
  * (marker-word heuristic), and winnowing document fingerprints (rolling
  * hash). These extend the reference's capabilities toward corpus curation
  * (the reference itself is numeric-only; these are the text analogues of
  * its per-row feature projections, SURVEY.md §2.2).
  *
  * Scale design: every operator here is a narrow per-row projection over the
  * documents scan — no joins, no shuffles except the final small groupBy.
  * All hashing is md5-based 32-bit arithmetic expressed identically in the
  * DuckDB oracle SQL, so results are bit-comparable across engines.
  */
object TextOps {

  /** 32-bit unsigned int from the first 8 hex chars of md5 — the shared
    * deterministic hash for shingles/tokens (same formula in oracle SQL).
    * Evaluated by the Md5PrefixInt kernel: one digest over the UTF-8
    * bytes, no hex round-trip (bit-identical to
    * `conv(substring(md5(c), 1, 8), 16, 10)`, pinned by spec). */
  def md5Int(c: Column): Column = graft.functions.GraftFunctions.md5PrefixInt(c)

  def md5IntSql(x: String): String =
    s"('0x' || substr(md5($x),1,8))::BIGINT"

  /** Whitespace tokenizer (BPE-ish splitting is regex-driven the same way;
    * whitespace is what the synthetic corpus needs). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokensSql(x: String): String = raw"regexp_split_to_array(trim($x), '\s+')"

  /** Character k-shingles of the raw text (expr form: Column-typed substring
    * offsets need the SQL lambda, the DSL substring takes Int literals). */
  def charShinglesExpr(textCol: String, k: Int): Column =
    expr(s"transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1))," +
      s" i -> substring($textCol, i, $k))")

  def charShinglesSql(x: String, k: Int): String =
    s"list_transform(range(1, greatest(length($x) - ${k - 1}, 1) + 1), i -> substr($x, i, $k))"

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "on", "for")

  /** The corpus quality score (q21's formula — length, stopword mass,
    * alphabetic mass): `least(n_tok/100, 1)·0.3 + stop_ratio·0.3 +
    * alpha_ratio·0.4`. Pure IEEE-double arithmetic in identical expression
    * order on both engines, so per-doc scores are bit-comparable (q50
    * gates on it; q89 argmaxes over it). NULL when the doc tokenizes to
    * nothing (P4 guard). */
  def quality(text: Column, nChars: Column): Column = {
    val tok = tokens(text)
    val nTok = size(tok).cast("double")
    val stopRatio = size(filter(tok, t => t.isInCollection(stopwords)))
      .cast("double") / nullif(nTok, lit(0.0))
    val alphaRatio = length(regexp_replace(text, "[^a-z]", "")).cast("double") /
      nullif(nChars.cast("double"), lit(0.0))
    least(nTok / lit(100.0), lit(1.0)) * lit(0.3) +
      stopRatio * lit(0.3) + alphaRatio * lit(0.4)
  }

  def qualitySql(text: String, nChars: String): String = {
    val tok = tokensSql(text)
    val stops = stopwords.map("'" + _ + "'").mkString(",")
    s"""least(len($tok)::DOUBLE/100.0, 1.0)*0.3
      | + len(list_filter($tok, t -> t IN ($stops)))::DOUBLE
      |     / nullif(len($tok)::DOUBLE, 0.0) * 0.3
      | + length(regexp_replace($text, '[^a-z]', '', 'g'))::DOUBLE
      |     / nullif($nChars::DOUBLE, 0.0) * 0.4""".stripMargin.replace("\n", "")
  }
}

object TextQueries {
  import TextOps.{md5Int, md5IntSql}

  type Q = (SparkSession, String) => DataFrame

  private def toks(c: Column): Column = split(trim(c), "\\s+")
  private val toksSql = raw"regexp_split_to_array(trim(text), '\s+')"

  // BPE-style pre-tokenizer (the GPT-2 pattern family, minus the trailing
  // negative lookahead — RE2, hence the DuckDB oracle, has no lookahead):
  // contractions | optional-space letter runs | optional-space digit runs |
  // optional-space punctuation runs | whitespace runs. A "token" here is a
  // pre-tokenizer match — the unit a BPE vocabulary would then split —
  // which is the count that matters for training-data budgeting.
  private val bpeRe =
    raw"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"

  // ---------------------------------------------------------------------------
  // q21 — token counting + quality scoring, aggregated per (lang, source).
  // Per-doc work is pure projection (codegen'd, no shuffle); the only
  // shuffle is the tiny (lang,source) groupBy. At 100 TB this is the shape
  // of a corpus-quality census: one pass, map-side partial aggregation.
  def q21TextStats(spark: SparkSession, d: String): DataFrame = {
    val stop = TextOps.stopwords
    val df = Tables.documents(spark, d)
      .withColumn("tok", toks(col("text")))
      .withColumn("n_tok", size(col("tok")).cast("double"))
      .withColumn("n_bpe", regexp_count(col("text"), lit(bpeRe)).cast("double"))
      .withColumn("stop_ratio",
        // P4: a doc that tokenizes to nothing must yield NULL, not an
        // ANSI DIVIDE_BY_ZERO (none in the testdata — latent guard)
        size(filter(col("tok"), t => t.isInCollection(stop))).cast("double") /
          nullif(col("n_tok"), lit(0.0)))
      .withColumn("punct_ratio",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .cast("double") / nullif(col("n_chars").cast("double"), lit(0.0)))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
          nullif(col("n_chars").cast("double"), lit(0.0)))
      .withColumn("quality",
        least(col("n_tok") / lit(100.0), lit(1.0)) * lit(0.3) +
          col("stop_ratio") * lit(0.3) + col("alpha_ratio") * lit(0.4))
    df.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_tok")), 4).as("avg_tokens"),
        round(avg(col("n_bpe")), 4).as("avg_bpe_tokens"),
        round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"),
        round(avg(col("punct_ratio")), 4).as("avg_punct_ratio"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy(col("lang"), col("source"))
  }

  val q21Sql: String =
    s"""WITH t AS (
      |  SELECT lang, source, n_chars,
      |    len($toksSql)::DOUBLE AS n_tok,
      |    len(regexp_extract_all(text,
      |      '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))::DOUBLE
      |      AS n_bpe,
      |    len(list_filter($toksSql, t -> t IN (${TextOps.stopwords.map("'" + _ + "'").mkString(",")})))::DOUBLE
      |      / nullif(len($toksSql)::DOUBLE, 0.0) AS stop_ratio,
      |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
      |      / nullif(n_chars::DOUBLE, 0.0) AS punct_ratio,
      |    length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
      |      / nullif(n_chars::DOUBLE, 0.0) AS alpha_ratio
      |  FROM documents)
      |SELECT lang, source, count(*) AS n_docs,
      |  round(avg(n_tok), 4) AS avg_tokens,
      |  round(avg(n_bpe), 4) AS avg_bpe_tokens,
      |  round(avg(stop_ratio), 4) AS avg_stop_ratio,
      |  round(avg(punct_ratio), 4) AS avg_punct_ratio,
      |  round(avg(least(n_tok/100.0, 1.0)*0.3 + stop_ratio*0.3 + alpha_ratio*0.4), 4) AS avg_quality
      |FROM t GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------------
  // q22 — language-ID by marker-word scoring (n-gram-heuristic family):
  // score the token list against per-language marker sets, predict the
  // argmax with a fixed tie-break order, and emit the lang × predicted
  // confusion matrix. Pure map + tiny groupBy, same scale story as q21.
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("ma", "ne", "ba"))

  def q22LangId(spark: SparkSession, d: String): DataFrame = {
    val df0 = Tables.documents(spark, d).withColumn("tok", toks(col("text")))
    val scored = markers.foldLeft(df0) { case (df, (l, ws)) =>
      df.withColumn(s"s_$l", size(filter(col("tok"), t => t.isInCollection(ws))))
    }
    val m = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
    // first-match-wins in declaration order (en, de, es, fr, zh)
    val predicted = markers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"s_$l") === m && m > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("pred_lang", predicted)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val q22Sql: String = {
    val scores = markers.map { case (l, ws) =>
      s"len(list_filter(tok, t -> t IN (${ws.map("'" + _ + "'").mkString(",")}))) AS s_$l"
    }.mkString(",\n    ")
    val m = s"greatest(${markers.map("s_" + _._1).mkString(",")})"
    val cases = markers.map { case (l, _) =>
      s"WHEN s_$l = $m AND $m > 0 THEN '$l'"
    }.mkString("\n      ")
    s"""WITH t AS (SELECT lang, $toksSql AS tok FROM documents),
      |s AS (
      |  SELECT lang,
      |    $scores
      |  FROM t)
      |SELECT lang,
      |  CASE $cases ELSE 'und' END AS pred_lang,
      |  count(*) AS n
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q23 — winnowing document fingerprints (rolling-hash family): 5-char
  // shingles → 32-bit hashes → minimum of each 4-hash window → distinct
  // mins are the fingerprint set. All-integer output, bit-exact vs the
  // oracle. Per-row array work stays inside one projection — at 100 TB the
  // cost is CPU-per-row, not shuffle.
  // The whole per-document loop is the WinnowStats kernel (one static call:
  // byte-range shingle windows, thread-cached digest, rolling min in-place)
  // — semantically the composed shingle→hash→window-min chain, pinned
  // element-wise against that chain by spec. Per-shingle MD5 is the
  // inherent cost; the wrapper allocations were ~10× on top of it.
  def q23Fingerprint(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .withColumn("ws", graft.functions.GraftFunctions.winnowStats(col("text")))
      .select(
        col("doc_id"),
        col("ws.n_shingles").as("n_shingles"),
        col("ws.n_fp").as("n_fp"),
        col("ws.fp_min").as("fp_min"),
        col("ws.fp_max").as("fp_max"))
      .orderBy(col("doc_id"))

  val q23Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(length(text) - 4, 1) + 1),
      |                   i -> substr(text, i, 5)) AS sh
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, sh,
      |    list_transform(sh, s -> ${md5IntSql("s")}) AS hs
      |  FROM t),
      |m AS (
      |  SELECT doc_id, sh,
      |    list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
      |                   i -> list_min(list_slice(hs, i, i + 3))) AS mins
      |  FROM h)
      |SELECT doc_id, len(sh) AS n_shingles,
      |  len(list_distinct(mins)) AS n_fp,
      |  list_min(mins) AS fp_min,
      |  list_max(mins) AS fp_max
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q24 — exact deduplication census per source: hash-groupBy on md5(text)
  // and on whitespace-normalized text. The count(DISTINCT hash) is the
  // exact-dedup primitive — at 100 TB this is the standard two-stage
  // partial/final distinct aggregation, shuffling only 128-bit hashes, never
  // the documents themselves.
  def q24ExactDedup(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .withColumn("h", md5(col("text")))
      .withColumn("hn", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"),
        countDistinct(col("hn")).as("n_distinct_norm"))
      .orderBy(col("source"))

  val q24Sql: String =
    raw"""SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct,
      |  count(*) - count(DISTINCT md5(text)) AS n_exact_dups,
      |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_distinct_norm
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------------
  // q50 — the composed corpus-CURATION pipeline: language-ID gate
  // (predicted lang must equal the labeled lang, q22's marker scorer) +
  // quality gate (q21's score ≥ 0.25, ≥ 5 tokens) → per-source census of
  // survivors vs drops by reason. The filter-then-census shape of a
  // training-data curation pass: one projection pass over the corpus, one
  // tiny groupBy — nothing shuffles but the census keys.
  def q50QualityFilterPipeline(spark: SparkSession, d: String): DataFrame = {
    val stop = TextOps.stopwords
    val df0 = Tables.documents(spark, d).withColumn("tok", toks(col("text")))
    val scored = markers.foldLeft(df0) { case (df, (l, ws)) =>
      df.withColumn(s"s_$l", size(filter(col("tok"), t => t.isInCollection(ws))))
    }
    val m = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
    val predicted = markers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"s_$l") === m && m > 0, lit(l)).otherwise(acc)
    }
    val gated = scored
      .withColumn("pred_lang", predicted)
      .withColumn("n_tok", size(col("tok")).cast("double"))
      .withColumn("stop_ratio",
        size(filter(col("tok"), t => t.isInCollection(stop))).cast("double") /
          nullif(col("n_tok"), lit(0.0)))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
          nullif(col("n_chars").cast("double"), lit(0.0)))
      .withColumn("quality",
        least(col("n_tok") / lit(100.0), lit(1.0)) * lit(0.3) +
          col("stop_ratio") * lit(0.3) + col("alpha_ratio") * lit(0.4))
      .withColumn("lang_ok", col("pred_lang") === col("lang"))
      .withColumn("quality_ok", col("quality") >= 0.25 && col("n_tok") >= 5)
    gated.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("lang_ok") && col("quality_ok")).as("n_survivors"),
        count_if(!col("lang_ok")).as("n_lang_dropped"),
        count_if(col("lang_ok") && !col("quality_ok")).as("n_quality_dropped"),
        round(avg(when(col("lang_ok") && col("quality_ok"), col("n_tok"))), 4)
          .as("avg_survivor_tokens"))
      .orderBy(col("source"))
  }

  val q50Sql: String = {
    val scores = markers.map { case (l, ws) =>
      s"len(list_filter(tok, t -> t IN (${ws.map("'" + _ + "'").mkString(",")}))) AS s_$l"
    }.mkString(",\n    ")
    val m = s"greatest(${markers.map("s_" + _._1).mkString(",")})"
    val cases = markers.map { case (l, _) =>
      s"WHEN s_$l = $m AND $m > 0 THEN '$l'"
    }.mkString("\n      ")
    s"""WITH t AS (
      |  SELECT lang, source, n_chars, text, $toksSql AS tok FROM documents),
      |s AS (
      |  SELECT lang, source, n_chars, text, tok,
      |    len(tok)::DOUBLE AS n_tok,
      |    $scores
      |  FROM t),
      |g AS (
      |  SELECT source, n_tok,
      |    (CASE $cases ELSE 'und' END) = lang AS lang_ok,
      |    (least(n_tok/100.0, 1.0)*0.3
      |      + (len(list_filter(tok, t -> t IN (${TextOps.stopwords.map("'" + _ + "'").mkString(",")})))::DOUBLE
      |          / nullif(n_tok, 0.0))*0.3
      |      + (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
      |          / nullif(n_chars::DOUBLE, 0.0))*0.4) >= 0.25
      |      AND n_tok >= 5 AS quality_ok
      |  FROM s)
      |SELECT source, count(*) AS n_docs,
      |  count(*) FILTER (WHERE lang_ok AND quality_ok) AS n_survivors,
      |  count(*) FILTER (WHERE NOT lang_ok) AS n_lang_dropped,
      |  count(*) FILTER (WHERE lang_ok AND NOT quality_ok) AS n_quality_dropped,
      |  round(avg(n_tok) FILTER (WHERE lang_ok AND quality_ok), 4) AS avg_survivor_tokens
      |FROM g GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q53 — deterministic train/val/test split + per-language stratified
  // downsampling, as a per-(lang, split) census. Split and sample decisions
  // are pure hash functions of the row (md5 of doc_id / of lang:doc_id), so
  // they are reproducible across runs, engines, and cluster layouts — the
  // property a training-data pipeline needs (a rerun or a backfill must
  // assign every document to the same shard). Map-only projection + tiny
  // groupBy; nothing shuffles but the census keys, at any corpus size.
  // Rates: downsample the dominant languages (en 50%, zh 80%), keep the rest.
  private val sampleRateSql =
    "CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 800000 ELSE 1000000 END"

  def q53StratifiedSplit(spark: SparkSession, d: String): DataFrame = {
    val bucket = md5Int(col("doc_id").cast("string")) % 100
    val shash =
      md5Int(concat_ws(":", col("lang"), col("doc_id").cast("string"))) % 1000000
    val thresh = when(col("lang") === "en", 500000L)
      .when(col("lang") === "zh", 800000L).otherwise(1000000L)
    Tables.documents(spark, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .withColumn("n_tok", size(toks(col("text"))))
      .withColumn("sampled", shash < thresh)
      .groupBy(col("lang"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("sampled")).as("n_sampled"),
        sum(when(col("sampled"), col("n_tok")).otherwise(0L)).as("sampled_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  val q53Sql: String =
    s"""WITH t AS (
      |  SELECT lang,
      |    ${md5IntSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
      |    ${md5IntSql("lang || ':' || CAST(doc_id AS VARCHAR)")} % 1000000
      |      AS shash,
      |    len($toksSql) AS n_tok
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split,
      |  count(*) AS n_docs,
      |  count(*) FILTER (WHERE shash < $sampleRateSql) AS n_sampled,
      |  CAST(coalesce(sum(n_tok) FILTER (WHERE shash < $sampleRateSql), 0)
      |    AS BIGINT) AS sampled_tokens
      |FROM t GROUP BY lang, split ORDER BY lang, split""".stripMargin

  // ---------------------------------------------------------------------------
  // q54 — sequence packing: concatenate each source shard's token stream in
  // deterministic hash order and cut it into fixed 512-token training
  // sequences; a document's pack is the sequence its first token lands in.
  // The running token count is one window cumsum per shard (per-series
  // sequential, parallel across shards — the same axis the bar operators
  // scale on), then two small groupBys. Census per source: pack count, mean
  // pack occupancy, and the largest single-pack document count.
  private val PackBudget = 512

  def q54SequencePack(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bucketed two-phase prefix sum (the q95 technique), NOT one window
    // per source: source cardinality is small and fixed, so a per-source
    // window partition serializes ~1/nSources of the whole corpus onto a
    // single task (r13 review). The hash axis splits each source into
    // 4096 order-aligned buckets — bucket = h div 2^20 is monotone in h,
    // so (bucket, h, doc_id) order ≡ (h, doc_id) order and the per-row
    // cum_before is IDENTICAL to the single-window form (the oracle
    // still states the plain window and hash-matches).
    val docs = Tables.documents(spark, d)
      .withColumn("n_tok", size(toks(col("text"))).cast("long"))
      .withColumn("h", md5Int(col("doc_id").cast("string")))
      .withColumn("bucket", floor(col("h") / lit(1L << 20)))
    val bTot = docs.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tok")).as("btok"))
    val wB = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bTot
      .withColumn("boff", coalesce(sum(col("btok")).over(wB), lit(0L)))
      .select(col("source"), col("bucket"), col("boff"))
    val wIn = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(offs), Seq("source", "bucket"))
      .withColumn("cum_before",
        col("boff") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $PackBudget"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("pack_docs"), sum(col("n_tok")).as("pack_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_packs"),
        sum(col("pack_docs")).as("n_docs"),
        sum(col("pack_tokens")).as("total_tokens"),
        max(col("pack_docs")).as("max_pack_docs"),
        round(avg(col("pack_tokens")), 4).as("avg_pack_tokens"))
      .orderBy(col("source"))
  }

  val q54Sql: String =
    s"""WITH t AS (
      |  SELECT source, doc_id, len($toksSql)::BIGINT AS n_tok,
      |    ${md5IntSql("CAST(doc_id AS VARCHAR)")} AS h
      |  FROM documents),
      |c AS (
      |  SELECT source, n_tok,
      |    coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      // $PackBudget AS pack_id
      |  FROM t),
      |p AS (
      |  SELECT source, pack_id, count(*) AS pack_docs, sum(n_tok) AS pack_tokens
      |  FROM c GROUP BY source, pack_id)
      |SELECT source, count(*) AS n_packs,
      |  CAST(sum(pack_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
      |  max(pack_docs) AS max_pack_docs,
      |  round(avg(pack_tokens), 4) AS avg_pack_tokens
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------------
  // q55 — benchmark decontamination: flag corpus documents that share any
  // word 5-gram with a held-out "benchmark" set (here a deterministic ~1%
  // hash slice of the corpus standing in for an eval suite). The benchmark
  // n-gram set is DISTINCT'd small and broadcast, so the corpus side is one
  // map-side explode + broadcast semi-join — the corpus text never
  // shuffles, which is what makes this shape viable at 100 TB. Honest
  // sizing note (r13 review): "fixed-size" is a property of PRODUCTION
  // benchmark suites (external eval sets — HellaSwag-class corpora of
  // ~10⁶ grams), not of this fixture's stand-in, which derives the set as
  // a 1/97 corpus slice purely for deterministic test data and therefore
  // GROWS with the corpus. If the benchmark side ever rivals executor
  // memory, drop the broadcast() hint (the semi-join becomes a shuffle
  // join) or route through q92's Bloom prefilter, whose sketch is
  // ~1.2 bytes/gram.
  def q55Decontamination(spark: SparkSession, d: String): DataFrame = {
    // one kernel pass per document: tokenize → 5-gram → md5-32 → sorted
    // distinct longs (8 bytes/gram on the wire; see HashedWordNgrams)
    val docs = Tables.documents(spark, d)
      .withColumn("is_bench", md5Int(col("doc_id").cast("string")) % 97 === 0)
      .withColumn("gh",
        graft.functions.GraftFunctions.hashedWordNgrams(col("text"), 5))
      .select(col("doc_id"), col("lang"), col("is_bench"), col("gh"))
    val benchGrams = docs.filter(col("is_bench"))
      .select(explode(col("gh")).as("g")).distinct()
    val corpus = docs.filter(!col("is_bench"))
    val contaminated = corpus
      .select(col("doc_id"), col("lang"), explode(col("gh")).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("doc_id"), col("lang")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("n_contaminated"))
    corpus.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(contaminated, Seq("lang"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("pct_contaminated",
        round(col("n_contaminated").cast("double") / col("n_docs"), 6) + 0.0)
      .orderBy(col("lang"))
  }

  val q55Sql: String = {
    val gramHash = md5IntSql("array_to_string(list_slice(tok, i, i + 4), ' ')")
    s"""WITH t AS (
      |  SELECT doc_id, lang, $toksSql AS tok,
      |    ${md5IntSql("CAST(doc_id AS VARCHAR)")} % 97 = 0 AS is_bench
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, lang, is_bench,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(tok) - 4, 1) + 1), i -> $gramHash)) AS gh
      |  FROM t),
      |bg AS (SELECT DISTINCT unnest(gh) AS gr FROM g WHERE is_bench),
      |cont AS (
      |  SELECT DISTINCT c.doc_id, c.lang
      |  FROM (SELECT doc_id, lang, unnest(gh) AS gr FROM g WHERE NOT is_bench) c
      |  JOIN bg USING (gr)),
      |cc AS (SELECT lang, count(*) AS n_contaminated FROM cont GROUP BY lang)
      |SELECT g.lang, count(*) AS n_docs,
      |  coalesce(any_value(cc.n_contaminated), 0) AS n_contaminated,
      |  round(coalesce(any_value(cc.n_contaminated), 0)::DOUBLE / count(*), 6)
      |    + 0.0 AS pct_contaminated
      |FROM g LEFT JOIN cc ON cc.lang = g.lang
      |WHERE NOT g.is_bench
      |GROUP BY g.lang ORDER BY g.lang""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q60 — the end-to-end corpus PREPARATION pipeline, one query: the
  // training-data funnel a user runs before tokenization. Stages (each a
  // flag on one shared pass over the corpus, so the census can report the
  // funnel attrition per stage):
  //   1. deterministic split assignment (q53's hash buckets),
  //   2. benchmark holdout (q55's ~1% hash slice — dropped from training),
  //   3. exact dedup on normalized text (q24's norm-md5; survivor = lowest
  //      doc_id, deterministic),
  //   4. decontamination (any word-5-gram shared with the benchmark slice,
  //      q55's broadcast semi-join),
  //   5. quality gate (≥5 tokens and ≥20% ASCII-alpha mass).
  // Census per (lang, split): candidates and survivors after each stage +
  // the final token budget. Scale shape: one corpus pass for the flags
  // (window on an 8-byte hash for dedup; broadcast semi-join for
  // decontamination), census keys only in the final shuffle.
  def q60CorpusPrep(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = md5Int(col("doc_id").cast("string")) % 100
    val docs = Tables.documents(spark, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .withColumn("is_bench", md5Int(col("doc_id").cast("string")) % 97 === 0)
      .withColumn("n_tok", size(toks(col("text"))).cast("long"))
      .withColumn("hn",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withColumn("gh",
        graft.functions.GraftFunctions.hashedWordNgrams(col("text"), 5))
      .withColumn("alpha_ok",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double") >=
          col("n_chars").cast("double") * 0.2)
    // exact-dup flag via partial-agg + equi join, NOT a window over hn:
    // a window partition is the whole duplicate cluster on one task with
    // no map-side combine — a boilerplate page that is 20% of a crawl
    // serializes 20% of the corpus into one straggler, and AQE cannot
    // split window partitions (it CAN split a skewed join) (r13 review).
    // doc_id is unique, so is_dup ⇔ doc_id != min(doc_id) over hn —
    // identical flags to the row_number form.
    val keepers = docs.groupBy(col("hn")).agg(min(col("doc_id")).as("keeper_id"))
    val flagged = docs
      .join(keepers, "hn")
      .withColumn("is_dup", col("doc_id") =!= col("keeper_id"))
      .drop("keeper_id")
    val benchGrams = docs.filter(col("is_bench"))
      .select(explode(col("gh")).as("g")).distinct()
    val contam = flagged.filter(!col("is_bench"))
      .select(col("doc_id"), explode(col("gh")).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("is_contam", lit(true))
    flagged.filter(!col("is_bench"))
      .join(contam, Seq("doc_id"), "left")
      .na.fill(false, Seq("is_contam"))
      .withColumn("quality_ok", col("n_tok") >= 5 && col("alpha_ok"))
      .withColumn("s1", !col("is_dup"))
      .withColumn("s2", col("s1") && !col("is_contam"))
      .withColumn("keep", col("s2") && col("quality_ok"))
      .groupBy(col("lang"), col("split"))
      .agg(
        count(lit(1)).as("n_candidates"),
        count_if(col("s1")).as("n_after_dedup"),
        count_if(col("s2")).as("n_after_decontam"),
        count_if(col("keep")).as("n_final"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("final_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  val q60Sql: String = {
    val gramHash = md5IntSql("array_to_string(list_slice(tok, i, i + 4), ' ')")
    s"""WITH base AS (
      |  SELECT doc_id, lang, n_chars, text, $toksSql AS tok,
      |    CASE WHEN ${md5IntSql("CAST(doc_id AS VARCHAR)")} % 100 < 80
      |      THEN 'train'
      |      WHEN ${md5IntSql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
      |      ELSE 'test' END AS split,
      |    ${md5IntSql("CAST(doc_id AS VARCHAR)")} % 97 = 0 AS is_bench,
      |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS hn,
      |    length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
      |      >= n_chars::DOUBLE * 0.2 AS alpha_ok
      |  FROM documents),
      |g AS (
      |  SELECT *, len(tok)::BIGINT AS n_tok,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(tok) - 4, 1) + 1), i -> $gramHash)) AS gh,
      |    row_number() OVER (PARTITION BY hn ORDER BY doc_id) > 1 AS is_dup
      |  FROM base),
      |bg AS (SELECT DISTINCT unnest(gh) AS gr FROM g WHERE is_bench),
      |contam AS (
      |  SELECT DISTINCT c.doc_id
      |  FROM (SELECT doc_id, unnest(gh) AS gr FROM g WHERE NOT is_bench) c
      |  JOIN bg USING (gr)),
      |f AS (
      |  SELECT g.lang, g.split, g.n_tok,
      |    NOT g.is_dup AS s1,
      |    NOT g.is_dup AND contam.doc_id IS NULL AS s2,
      |    NOT g.is_dup AND contam.doc_id IS NULL
      |      AND g.n_tok >= 5 AND g.alpha_ok AS keep
      |  FROM g LEFT JOIN contam ON contam.doc_id = g.doc_id
      |  WHERE NOT g.is_bench)
      |SELECT lang, split, count(*) AS n_candidates,
      |  count(*) FILTER (WHERE s1) AS n_after_dedup,
      |  count(*) FILTER (WHERE s2) AS n_after_decontam,
      |  count(*) FILTER (WHERE keep) AS n_final,
      |  CAST(coalesce(sum(n_tok) FILTER (WHERE keep), 0) AS BIGINT)
      |    AS final_tokens
      |FROM f GROUP BY lang, split ORDER BY lang, split""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q62 — repetition-based quality rules (the Gopher/MassiveText family):
  // per-document duplicate-line fraction, duplicate-line CHARACTER
  // fraction, most-frequent-word-bigram coverage, and duplicate-5-gram
  // fraction, gated at Gopher-ish thresholds, then a per-lang census.
  // Everything per-doc is a map-only HOF/kernel pass over the token array
  // (no explode, no per-doc shuffle — the corpus never leaves its input
  // partitions); the only shuffle is the tiny lang census. The O(L²)
  // duplicate-line scan is bounded by lines-per-doc, not corpus size.
  //
  // N-gram conventions mirror the dedup family (shingleSetSql): a doc
  // shorter than the gram order contributes one degenerate gram, so both
  // engines agree on tiny docs. The bigram max-multiplicity is a sort +
  // one max-run fold (Spark) vs list mode (DuckDB) — same integer.
  def q62RepetitionRules(spark: SparkSession, d: String): DataFrame = {
    val tok = toks(col("text"))
    def grams(n: Int): Column =
      transform(sequence(lit(1), greatest(size(col("tok")) - (n - 1), lit(1))),
        i => md5Int(concat_ws(" ", slice(col("tok"), i, lit(n)))))
    val docs = Tables.documents(spark, d)
      .withColumn("tok", tok)
      .withColumn("lines",
        filter(transform(split(col("text"), "\n"), l => trim(l)), l => l =!= ""))
      .withColumn("g2", sort_array(grams(2)))
      .withColumn("g5", grams(5))
    val nLines = size(col("lines")).cast("double")
    val dupLines = nLines - size(array_distinct(col("lines"))).cast("double")
    val lineChars = aggregate(col("lines"), lit(0L), (acc, x) => acc + length(x))
    val dupLineChars = aggregate(
      filter(col("lines"), x => size(filter(col("lines"), y => y === x)) > 1),
      lit(0L), (acc, x) => acc + length(x))
    // longest run in the sorted bigram hashes == max multiplicity
    val top2Cnt = aggregate(col("g2"),
      struct(lit(-1L).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val scored = docs
      .withColumn("dup_line_frac", dupLines / nullif(nLines, lit(0.0)))
      .withColumn("dup_line_char_frac",
        dupLineChars.cast("double") / nullif(lineChars.cast("double"), lit(0.0)))
      .withColumn("top2_frac",
        top2Cnt.cast("double") / size(col("g2")).cast("double"))
      .withColumn("dup5_frac",
        (size(col("g5")) - size(array_distinct(col("g5")))).cast("double") /
          size(col("g5")).cast("double"))
      .withColumn("flagged",
        coalesce(col("dup_line_frac") > 0.30, lit(false)) ||
          col("top2_frac") > 0.20 || col("dup5_frac") > 0.30)
    scored.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("flagged")).as("n_flagged"),
        round(avg(col("dup_line_frac")), 6).as("avg_dup_line_frac"),
        round(avg(col("dup_line_char_frac")), 6).as("avg_dup_line_char_frac"),
        round(avg(col("top2_frac")), 6).as("avg_top2_frac"),
        round(avg(col("dup5_frac")), 6).as("avg_dup5_frac"))
      .orderBy(col("lang"))
  }

  val q62Sql: String = {
    def gramSql(n: Int): String =
      s"list_transform(range(1, greatest(len(tok) - ${n - 1}, 1) + 1), " +
        s"i -> ${md5IntSql(s"array_to_string(list_slice(tok, i, i + ${n - 1}), ' ')")})"
    s"""WITH base AS (
      |  SELECT lang, $toksSql AS tok,
      |    list_filter(list_transform(str_split(text, chr(10)), l -> trim(l)),
      |      l -> l <> '') AS lines,
      |    ${gramSql(2)} AS g2, ${gramSql(5)} AS g5
      |  FROM documents),
      |scored AS (
      |  SELECT lang,
      |    (len(lines) - len(list_distinct(lines)))::DOUBLE
      |      / nullif(len(lines)::DOUBLE, 0.0) AS dup_line_frac,
      |    coalesce(list_sum(list_transform(
      |        list_filter(lines, x -> len(list_filter(lines, y -> y = x)) > 1),
      |        x -> length(x))), 0)::DOUBLE
      |      / nullif(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)::DOUBLE,
      |               0.0) AS dup_line_char_frac,
      |    len(list_filter(g2, g -> g = list_aggregate(g2, 'mode')))::DOUBLE
      |      / len(g2)::DOUBLE AS top2_frac,
      |    (len(g5) - len(list_distinct(g5)))::DOUBLE / len(g5)::DOUBLE AS dup5_frac
      |  FROM base),
      |f AS (
      |  SELECT lang, dup_line_frac, dup_line_char_frac, top2_frac, dup5_frac,
      |    coalesce(dup_line_frac > 0.30, false)
      |      OR top2_frac > 0.20 OR dup5_frac > 0.30 AS flagged
      |  FROM scored)
      |SELECT lang, count(*) AS n_docs,
      |  count(*) FILTER (WHERE flagged) AS n_flagged,
      |  round(avg(dup_line_frac), 6) + 0.0 AS avg_dup_line_frac,
      |  round(avg(dup_line_char_frac), 6) + 0.0 AS avg_dup_line_char_frac,
      |  round(avg(top2_frac), 6) + 0.0 AS avg_top2_frac,
      |  round(avg(dup5_frac), 6) + 0.0 AS avg_dup5_frac
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q64 — BPE vocabulary induction, the first 3 merge rounds, distributed:
  // the corpus is scanned ONCE into a weighted distinct-word table (the
  // classic combiner-friendly word count — the only corpus-sized shuffle);
  // every round then runs on that table: adjacent symbol-pair counts
  // (explode + groupBy, weighted by word frequency), argmax with a
  // (count desc, pair asc) tie-break — a 1-row bounded collect, like the
  // k-means centroids — and a map-only merge of the winning pair into
  // every word's segmentation. At 100 TB the word table is still tiny
  // relative to the corpus (vocabulary grows ~logarithmically), which is
  // exactly why production BPE trainers work off the aggregated word
  // histogram, never the raw corpus.
  //
  // Merge semantics: greedy LEFT-TO-RIGHT non-overlapping, implemented as
  // a string replace over the space-joined segmentation (' a b ' → ' ab ')
  // — regexp_replace (Spark) and replace (DuckDB) share those exact
  // semantics, so consecutive-repeat edge cases ('g g g') agree
  // bit-for-bit across engines by construction.
  private val BpeRounds = 3

  /** Runs the BpeRounds merge loop on the weighted word histogram and
    * returns (final per-word segmentation frame (w, cnt, seg), per-round
    * stats). Shared by q64 (vocabulary induction stats) and q74 (encode
    * apply): the merge table is learned once, corpus-wide, exactly like a
    * production tokenizer train step. */
  private[graft] def bpeSegmentation(spark: SparkSession, d: String)
      : (DataFrame, Seq[(Int, String, Long, Long)]) = {
    val words = Tables.documents(spark, d)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("seg",
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")))
      .transform(StagingRoots.persist)
    var seg = words
    val out = Seq.newBuilder[(Int, String, Long, Long)]
    // U+0001 as the internal pair delimiter, NOT '+': symbols come from
    // whitespace tokenization, so '+'-bearing text ('C++', 'a+b') made a
    // pair like '++b' unparseable — split("\\+", 2) returned a='' and
    // rewrote the wrong pattern, and DuckDB's split_part parsed it
    // differently again (r13 review). chr(1) is below every printable
    // char, so the (pcnt desc, pair asc) tie-break also keeps the
    // tuple-lexicographic order both engines agree on. The DISPLAYED
    // merged_pair stays 'a+b' in both.
    var r = 1
    var dry = false
    while (r <= BpeRounds && !dry) {
      val syms = split(trim(col("seg")), " ")
      val pairs = seg
        .withColumn("syms", syms)
        .select(col("cnt"), explode(
          when(size(col("syms")) >= 2,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => concat(element_at(col("syms"), i), lit("\u0001"),
                element_at(col("syms"), i + 1))))
            .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pcnt"))
        .orderBy(col("pcnt").desc, col("pair"))
        .limit(1)
        .collect()
      if (pairs.isEmpty) {
        // no word has >= 2 symbols left (single-character tokens, empty
        // corpus): no merge is possible — stop, keeping the current
        // segmentation; the oracle's LEFT JOIN degrades the same way
        // (pairs.head previously threw NoSuchElementException here)
        dry = true
      } else {
        val Array(a, b) = pairs.head.getAs[String]("pair").split("\u0001", 2)
        val pcnt = pairs.head.getAs[Long]("pcnt")
        seg = seg.withColumn("seg",
          regexp_replace(col("seg"),
            java.util.regex.Pattern.quote(s" $a $b "), s" $a$b "))
          .localCheckpoint()
        val vocab = seg
          .select(explode(split(trim(col("seg")), " ")).as("sym"))
          .agg(countDistinct(col("sym"))).head().getLong(0)
        out += ((r, s"$a+$b", pcnt, vocab))
      }
      r += 1
    }
    words.unpersist()
    (seg, out.result())
  }

  def q64BpeMerges(spark: SparkSession, d: String): DataFrame = {
    val (_, stats) = bpeSegmentation(spark, d)
    import spark.implicits._
    stats.toDF("round", "merged_pair", "pair_count", "vocab_size")
      .orderBy(col("round"))
  }

  /** The shared DuckDB CTE chain deriving the word histogram and the
    * BpeRounds merge rounds (p<r>/w<r>/v<r>); w<BpeRounds> carries the
    * final segmentation. Used by both q64Sql and q74Sql. */
  private val bpeCtes: String = {
    // one round: (words_in) -> top pair p<r> -> merged words w<r> + vocab v<r>
    // chr(1) pair delimiter + LEFT JOIN degrade — in lockstep with the
    // Scala loop (see bpeSegmentation): '+' is a legal symbol character,
    // and an empty p<r> (no 2-symbol word left) must keep the previous
    // segmentation rather than empty the whole chain via the cross join
    def round(r: Int, in: String): String =
      s"""p$r AS (
        |  SELECT split_part(pair, chr(1), 1) AS a, split_part(pair, chr(1), 2) AS b,
        |    pcnt FROM (
        |    SELECT pair, CAST(sum(cnt) AS BIGINT) AS pcnt FROM (
        |      SELECT cnt, unnest(list_transform(range(1, greatest(len(s), 1)),
        |        i -> s[i] || chr(1) || s[i + 1])) AS pair
        |      FROM (SELECT cnt, string_split(trim(seg), ' ') AS s FROM $in))
        |    GROUP BY pair)
        |  ORDER BY pcnt DESC, pair LIMIT 1),
        |w$r AS (
        |  SELECT w, cnt,
        |    CASE WHEN p$r.a IS NULL THEN seg
        |      ELSE replace(seg, ' ' || p$r.a || ' ' || p$r.b || ' ',
        |        ' ' || p$r.a || p$r.b || ' ') END AS seg
        |  FROM $in LEFT JOIN p$r ON true),
        |v$r AS (
        |  SELECT count(DISTINCT sym) AS vocab FROM (
        |    SELECT unnest(string_split(trim(seg), ' ')) AS sym FROM w$r))""".stripMargin
    val rounds = (1 to BpeRounds)
      .map(r => round(r, if (r == 1) "words" else s"w${r - 1}"))
      .mkString(",\n")
    s"""toks AS (
      |  SELECT unnest($toksSql) AS w FROM documents),
      |words AS (
      |  SELECT w, count(*) AS cnt,
      |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seg
      |  FROM toks GROUP BY w),
      |$rounds""".stripMargin
  }

  val q64Sql: String = {
    val unions = (1 to BpeRounds).map(r =>
      s"SELECT $r AS round, p$r.a || '+' || p$r.b AS merged_pair, " +
        s"p$r.pcnt AS pair_count, v$r.vocab AS vocab_size FROM p$r, v$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeCtes
      |SELECT * FROM (
      |$unions
      |) ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q74 — BPE encode APPLY at corpus scale: the q64-learned merge table is
  // applied to every document and the per-language token economics are
  // censused. This is the production tokenizer-apply shape: the vocabulary
  // (per-word subtoken counts, derived once from the corpus-wide word
  // histogram) is BROADCAST and the corpus side is a map-only explode +
  // broadcast join — document text never shuffles, and the only shuffle
  // carries (lang) census keys. At 100 TB the vocab table stays
  // ~vocabulary-sized (log-ish in corpus size) no matter the corpus.
  def q74BpeEncode(spark: SparkSession, d: String): DataFrame = {
    val (seg, _) = bpeSegmentation(spark, d)
    val vocab = seg.select(col("w"),
      size(split(trim(col("seg")), " ")).as("n_sub"))
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("w"))
      .join(broadcast(vocab), "w")
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_char_tokens"),
        sum(col("n_sub")).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_char_tokens").cast("double")
          / col("n_bpe_tokens").cast("double"), 6))
      .orderBy(col("lang"))
  }

  val q74Sql: String =
    s"""WITH $bpeCtes,
      |vocab AS (
      |  SELECT w, len(string_split(trim(seg), ' ')) AS n_sub
      |  FROM w$BpeRounds),
      |docw AS (
      |  SELECT doc_id, lang, unnest($toksSql) AS w FROM documents)
      |SELECT lang,
      |  count(DISTINCT doc_id) AS n_docs,
      |  count(*) AS n_words,
      |  CAST(sum(length(w)) AS BIGINT) AS n_char_tokens,
      |  CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens,
      |  round(CAST(sum(length(w)) AS BIGINT)::DOUBLE
      |    / CAST(sum(n_sub) AS BIGINT)::DOUBLE, 6) AS compression
      |FROM docw JOIN vocab USING (w)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------------
  // q110 — train→val memorization-exposure census (the Lee et al.
  // "Deduplicating Training Data…" measurement): for q53's hash split,
  // what fraction of each VAL doc's word-10-grams already occur anywhere
  // in TRAIN? High overlap means eval perplexity measures memorization,
  // not generalization — the census that motivates dedup-before-split
  // (q79 measures the near-dup doc pairs; this measures the gram-level
  // exposure even where docs aren't near-dups).
  //
  // Scale shape: grams ride as 8-byte md5 hashes (HashedWordNgrams); the
  // train gram set is distinct'd and the overlap join is a SHUFFLE
  // left-semi flag join on the hash — at 100 TB the train gram table is
  // cluster-resident (this is q92's Bloom-prefilter candidate if a sketch
  // is preferred); the val side explodes only the ~10% val slice. The
  // census is exact-integer until the final rounded fractions.
  def q110MemorizationCensus(spark: SparkSession, d: String): DataFrame = {
    val bucket = md5Int(col("doc_id").cast("string")) % 100
    val docs = Tables.documents(spark, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .withColumn("gh",
        graft.functions.GraftFunctions.hashedWordNgrams(col("text"), 10))
      .select(col("doc_id"), col("lang"), col("split"), col("gh"))
    val trainGrams = docs.filter(col("split") === "train")
      .select(explode(col("gh")).as("g")).distinct()
    val valGrams = docs.filter(col("split") === "val")
      .select(col("doc_id"), col("lang"), explode(col("gh")).as("g"))
    val perDoc = valGrams
      .join(trainGrams.withColumn("seen", lit(1)).hint("shuffle_hash"),
        Seq("g"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"),
        count_if(col("seen").isNotNull).as("n_seen"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_val_docs"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("n_seen")).as("n_seen"),
        (round(sum(col("n_seen")).cast("double") / sum(col("n_grams")), 6) + 0.0)
          .as("gram_overlap"),
        count_if(col("n_seen") * 2 >= col("n_grams")).as("n_high_exposure"))
      .orderBy(col("lang"))
  }

  val q110Sql: String = {
    val gramHash = md5IntSql("array_to_string(list_slice(tok, i, i + 9), ' ')")
    s"""WITH t AS (
      |  SELECT doc_id, lang, $toksSql AS tok,
      |    ${md5IntSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
      |      ELSE 'test' END AS split,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(tok) - 9, 1) + 1), i -> $gramHash)) AS gh
      |  FROM t),
      |tg AS (SELECT DISTINCT unnest(gh) AS gr FROM g WHERE split = 'train'),
      |vg AS (
      |  SELECT doc_id, lang, unnest(gh) AS gr FROM g WHERE split = 'val'),
      |pd AS (
      |  SELECT vg.doc_id, vg.lang, count(*) AS n_grams,
      |    count(tg.gr) AS n_seen
      |  FROM vg LEFT JOIN tg USING (gr)
      |  GROUP BY 1, 2)
      |SELECT lang, count(*) AS n_val_docs,
      |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
      |  CAST(sum(n_seen) AS BIGINT) AS n_seen,
      |  round(sum(n_seen)::DOUBLE / sum(n_grams), 6) + 0.0 AS gram_overlap,
      |  count(*) FILTER (WHERE n_seen * 2 >= n_grams) AS n_high_exposure
      |FROM pd GROUP BY lang ORDER BY lang""".stripMargin
  }

  val all: Map[String, Q] = Map(
    "q110_memorization_census" -> (q110MemorizationCensus _),
    "q21_text_stats" -> (q21TextStats _),
    "q22_lang_id" -> (q22LangId _),
    "q23_fingerprint" -> (q23Fingerprint _),
    "q24_exact_dedup" -> (q24ExactDedup _),
    "q50_quality_filter_pipeline" -> (q50QualityFilterPipeline _),
    "q53_stratified_split" -> (q53StratifiedSplit _),
    "q54_sequence_pack" -> (q54SequencePack _),
    "q55_decontamination" -> (q55Decontamination _),
    "q60_corpus_prep" -> (q60CorpusPrep _),
    "q62_repetition_rules" -> (q62RepetitionRules _),
    "q64_bpe_merges" -> (q64BpeMerges _),
    "q74_bpe_encode" -> (q74BpeEncode _))

  val oracles: Map[String, String] = Map(
    "q21_text_stats" -> q21Sql,
    "q22_lang_id" -> q22Sql,
    "q23_fingerprint" -> q23Sql,
    "q24_exact_dedup" -> q24Sql,
    "q50_quality_filter_pipeline" -> q50Sql,
    "q53_stratified_split" -> q53Sql,
    "q54_sequence_pack" -> q54Sql,
    "q55_decontamination" -> q55Sql,
    "q60_corpus_prep" -> q60Sql,
    "q62_repetition_rules" -> q62Sql,
    "q64_bpe_merges" -> q64Sql,
    "q74_bpe_encode" -> q74Sql,
    "q110_memorization_census" -> q110Sql)
}
