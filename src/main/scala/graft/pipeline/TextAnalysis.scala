package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Round.r4
import graft.operators.HistogramRank

/**
 * Text-analysis operators for an LLM training-data pipeline, over the
 * `documents(doc_id, text, lang, source, n_chars)` table.
 *
 * All scores are derived from integer token/char counts so the DuckDB
 * oracles match hash-for-hash. Everything is a narrow projection or a
 * single explode+groupBy — no shuffles beyond the aggregation itself,
 * Catalyst-codegen'd built-ins only (no UDFs).
 */
object TextAnalysis {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Whitespace token count, BPE-ish subword estimate (ceil(chars/4) —
   *  the standard ~4-chars-per-token heuristic), alpha-token count via
   *  regexp, avg token length. */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("n_chars"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      expr("(n_chars + 3) div 4").as("bpe_tokens_est"),
      size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).cast("long")
        .as("alpha_tokens"),
      r4((col("n_chars") - (size(split(col("text"), " ")) - 1).cast("long"))
        * lit(1.0) / size(split(col("text"), " "))).as("avg_token_len"))
      .orderBy("doc_id")

  val textStatsOracle: String = """
SELECT doc_id, n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       (n_chars + 3) // 4 AS bpe_tokens_est,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT) AS alpha_tokens,
       FLOOR(((n_chars - (len(string_split(text, ' ')) - 1)) * 1.0
             / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS avg_token_len
FROM documents
ORDER BY doc_id"""

  /** Per-source quality DRIFT over ingestion order — the
   *  crawl-went-bad detector: a source whose recent deciles score
   *  below its own mean is degrading (paywall rot, template change,
   *  spam flood) and should be re-crawled or time-truncated, which a
   *  whole-source mean ([[qualityScore]] aggregated) can never show.
   *  Per (source, ingestion decile): doc count, mean quality, the
   *  source's overall mean, and the decile's signed drift from it.
   *  Exactness discipline: per-doc quality (the shared [[qualityCol]]
   *  — one definition with `quality_score`/`quality_sweep`, no drift)
   *  quantizes to integer MILLI units per doc (a deterministic scalar
   *  op, identical in both engines), so every aggregate is an integer
   *  SUM — exact under any aggregation order; means are final
   *  divisions. One map-side-combining agg to |sources|×10 cells; the
   *  source-mean windows run over that bounded cell frame only. */
  def qualityDrift(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val maxId = docs.agg(max("doc_id").as("max_id"))
    val perDoc = docs.crossJoin(broadcast(maxId))
      .select(col("source"),
        expr(s"doc_id * $buckets div (max_id + 1)").as("bucket"),
        floor(qualityCol * lit(1000) + lit(0.5)).cast("long").as("qmilli"))
    val cells = perDoc.groupBy("source", "bucket").agg(
      count(lit(1)).as("n_docs"), sum("qmilli").as("qsum"))
    val srcW = org.apache.spark.sql.expressions.Window.partitionBy("source")
    cells
      .withColumn("src_docs", sum("n_docs").over(srcW))
      .withColumn("src_qsum", sum("qsum").over(srcW))
      .select(col("source"), col("bucket"), col("n_docs"),
        r4(col("qsum") * lit(1.0) / (col("n_docs") * lit(1000.0)))
          .as("mean_quality"),
        r4(col("src_qsum") * lit(1.0) / (col("src_docs") * lit(1000.0)))
          .as("source_mean"),
        r4(col("qsum") * lit(1.0) / (col("n_docs") * lit(1000.0))
          - col("src_qsum") * lit(1.0) / (col("src_docs") * lit(1000.0)))
          .as("drift"))
      .orderBy("source", "bucket")
  }

  // lazy: interpolates qualitySqlExpr, declared further down the object
  lazy val qualityDriftOracle: String = s"""
WITH m AS (SELECT MAX(doc_id) AS max_id FROM documents),
pd AS (
  SELECT source, (doc_id * 10) // (max_id + 1) AS bucket,
         CAST(FLOOR(($qualitySqlExpr) * 1000 + 0.5) AS BIGINT) AS qmilli
  FROM documents CROSS JOIN m),
cells AS (
  SELECT source, bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(qmilli) AS BIGINT) AS qsum
  FROM pd GROUP BY source, bucket),
w AS (
  SELECT source, bucket, n_docs, qsum,
         CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT) AS src_docs,
         CAST(SUM(qsum) OVER (PARTITION BY source) AS BIGINT) AS src_qsum
  FROM cells)
SELECT source, CAST(bucket AS BIGINT) AS bucket, n_docs,
       FLOOR((qsum * 1.0 / (n_docs * 1000.0)) * 10000.0 + 0.5) / 10000.0 AS mean_quality,
       FLOOR((src_qsum * 1.0 / (src_docs * 1000.0)) * 10000.0 + 0.5) / 10000.0 AS source_mean,
       FLOOR((qsum * 1.0 / (n_docs * 1000.0)
              - src_qsum * 1.0 / (src_docs * 1000.0)) * 10000.0 + 0.5) / 10000.0 AS drift
FROM w
ORDER BY source, bucket"""

  /** Per-language tokenizer-cost profile ("fertility" in the
   *  multilingual-tokenizer sense: how many subword tokens a unit of
   *  raw data costs per language) — the conversion table between
   *  corpus BYTES on disk and training TOKENS in budget, which is
   *  what per-language sampling quotas and shard budgets are actually
   *  denominated in. Per lang: doc/whitespace-token/BPE-estimate/
   *  char/byte masses (all exact integer sums, sharing [[textStats]]'
   *  per-doc expressions so the two keys can't drift) and three
   *  ratios — subwords per word (fertility proper), bytes per
   *  subword (the storage→budget rate), bytes per char (multibyte
   *  share; ~1.0 for ASCII langs, up to 3 for CJK). ONE map-side-
   *  combining aggregate to language cardinality; ratios are single
   *  divisions over the exact sums. */
  def tokenFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("n_chars"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr("(n_chars + 3) div 4").as("bpe_est"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("words"),
        sum("bpe_est").as("bpe_tokens"),
        sum("n_chars").as("chars"),
        sum("n_bytes").as("bytes"))
      .select(col("lang"), col("n_docs"), col("words"), col("bpe_tokens"),
        col("chars"), col("bytes"),
        r4(col("bpe_tokens") * lit(1.0) / col("words")).as("fertility"),
        r4(col("bytes") * lit(1.0) / col("bpe_tokens")).as("bytes_per_token"),
        r4(col("bytes") * lit(1.0) / col("chars")).as("bytes_per_char"))
      .orderBy("lang")

  /** DuckDB `strlen` is byte length (its `length` is code points),
   *  matching Spark's `octet_length`. */
  val tokenFertilityOracle: String = """
WITH per_doc AS (
  SELECT lang, n_chars,
         CAST(strlen(text) AS BIGINT) AS n_bytes,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         (n_chars + 3) // 4 AS bpe_est
  FROM documents),
per_lang AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS words,
         CAST(SUM(bpe_est) AS BIGINT) AS bpe_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS chars,
         CAST(SUM(n_bytes) AS BIGINT) AS bytes
  FROM per_doc GROUP BY lang)
SELECT lang, n_docs, words, bpe_tokens, chars, bytes,
       FLOOR((bpe_tokens * 1.0 / words) * 10000.0 + 0.5) / 10000.0 AS fertility,
       FLOOR((bytes * 1.0 / bpe_tokens) * 10000.0 + 0.5) / 10000.0 AS bytes_per_token,
       FLOOR((bytes * 1.0 / chars) * 10000.0 + 0.5) / 10000.0 AS bytes_per_char
FROM per_lang
ORDER BY lang"""

  /** Default context lengths for [[contextTruncationSweep]] — one per
   *  common training max-seq-len. Shared with the oracle builder so
   *  the two sides cannot drift. */
  val defaultCtxLens: Seq[Int] = Seq(512, 1024, 2048, 4096, 8192)

  /** Context-length truncation sweep — the "what does a max-seq-len
   *  cost us" table every pretraining-data decision consults: for each
   *  candidate context length L, per source: how many documents
   *  exceed L (and would be truncated under a truncate-don't-split
   *  policy) and what fraction of the source's token mass survives
   *  (`sum(min(tok, L)) / sum(tok)`). Token unit is the corpus-wide
   *  BPE estimate (`(n_chars+3) div 4`, shared with [[textStats]] /
   *  [[tokenFertility]] so budgets are denominated identically).
   *
   *  Scale: ONE map-side-combining pass over the corpus computes all
   *  |L| conditional sums as columns of a |sources|-row aggregate
   *  (no per-L corpus re-scan, no explode of the corpus by |L|); the
   *  `stack` unpivot runs on that bounded cell frame only. Exactness:
   *  every cell is an integer SUM/COUNT; the kept fraction is a final
   *  r4 division. */
  def contextTruncationSweep(docs: DataFrame,
                             ctxLens: Seq[Int] = defaultCtxLens): DataFrame = {
    val perDoc = docs.select(col("source"), expr("(n_chars + 3) div 4").as("tok"))
    val aggs = Seq(
      count(lit(1)).as("n_docs"), sum("tok").as("tokens_total")) ++
      ctxLens.flatMap { l => Seq(
        sum(least(col("tok"), lit(l.toLong))).as(s"kept_$l"),
        sum(when(col("tok") > l, lit(1L)).otherwise(lit(0L))).as(s"trunc_$l")) }
    val cells = perDoc.groupBy("source").agg(aggs.head, aggs.tail: _*)
    val stackArgs = ctxLens
      .map(l => s"CAST($l AS BIGINT), kept_$l, trunc_$l").mkString(", ")
    cells
      .select(col("source"), col("n_docs"), col("tokens_total"),
        expr(s"stack(${ctxLens.size}, $stackArgs)" +
          " AS (ctx_len, tokens_kept, docs_truncated)"))
      .select(col("source"), col("ctx_len"), col("n_docs"),
        col("docs_truncated"), col("tokens_total"), col("tokens_kept"),
        r4(col("tokens_kept") * lit(1.0) / col("tokens_total")).as("kept_frac"))
      .orderBy("source", "ctx_len")
  }

  /** Same one-pass conditional-sum + bounded unpivot, built from the
   *  same [[defaultCtxLens]] list. */
  val contextTruncationSweepOracle: String = {
    val lens = defaultCtxLens
    val cellCols = lens.map { l =>
      s"""         CAST(SUM(LEAST(tok, $l)) AS BIGINT) AS kept_$l,
         CAST(SUM(CASE WHEN tok > $l THEN 1 ELSE 0 END) AS BIGINT) AS trunc_$l"""
    }.mkString(",\n")
    val arms = lens.map { l =>
      s"""  SELECT source, n_docs, tokens_total, CAST($l AS BIGINT) AS ctx_len,
         kept_$l AS tokens_kept, trunc_$l AS docs_truncated FROM cells"""
    }.mkString("\n  UNION ALL\n")
    s"""
WITH per_doc AS (
  SELECT source, (n_chars + 3) // 4 AS tok FROM documents),
cells AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tok) AS BIGINT) AS tokens_total,
$cellCols
  FROM per_doc GROUP BY source),
sweep AS (
$arms)
SELECT source, ctx_len, n_docs, docs_truncated, tokens_total, tokens_kept,
       ${graft.util.Round.r4Sql("tokens_kept * 1.0 / tokens_total")} AS kept_frac
FROM sweep
ORDER BY source, ctx_len"""
  }

  /** Marker-word language heuristic: weighted stopword hits per
   *  candidate language, argmax with alphabetical tie-break, 'und' when
   *  no marker matches. (A real corpus would use a larger n-gram
   *  profile table; the mechanism — token explode, broadcast marker
   *  join, per-doc argmax — is the scale-relevant part.) */
  def langId(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = Seq(
      ("the", "en", 3L), ("a", "en", 1L),
      ("spark", "tech", 2L), ("data", "tech", 1L),
      ("le", "fr", 3L), ("la", "fr", 1L)).toDF("word", "cand_lang", "weight")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val scores = toks.join(broadcast(markers), "word")
      .groupBy("doc_id", "cand_lang")
      .agg(sum("weight").as("score"))
    val best = scores
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("cand_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cand_lang"), col("score"))
    docs.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cand_lang"), lit("und")).as("lang_guess"),
        coalesce(col("score"), lit(0L)).as("lang_score"))
      .orderBy("doc_id")
  }

  val langIdOracle: String = """
WITH markers(word, cand_lang, weight) AS (
  VALUES ('the', 'en', 3), ('a', 'en', 1),
         ('spark', 'tech', 2), ('data', 'tech', 1),
         ('le', 'fr', 3), ('la', 'fr', 1)),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
scores AS (
  SELECT t.doc_id, m.cand_lang, CAST(SUM(m.weight) AS BIGINT) AS score
  FROM toks t JOIN markers m ON t.word = m.word
  GROUP BY t.doc_id, m.cand_lang),
best AS (
  SELECT doc_id, cand_lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rk
  FROM scores)
SELECT d.doc_id,
       COALESCE(b.cand_lang, 'und') AS lang_guess,
       COALESCE(b.score, 0) AS lang_score
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
  ON d.doc_id = b.doc_id
ORDER BY d.doc_id"""

  /** Language-ID decision-MARGIN profile — the classifier-confidence
   *  readout that decides which [[langId]] verdicts are safe to act
   *  on: per predicted language, how many docs were decided by a
   *  clear margin (best − runner-up score ≥ `minMargin`), how many
   *  were ambiguous (a runner-up within the margin), how many had a
   *  single candidate or none. Production lang-ID gates on exactly
   *  this margin — an "en" verdict that beat "fr" by one stopword is
   *  a coin flip and should route to the `und` bucket, which the
   *  per-language ambiguous share here prices. Shape: [[langId]]'s
   *  broadcast-marker scoring verbatim, the SAME per-doc window
   *  reading rk 1 and 2, one map-side-combining aggregate to
   *  |languages| rows; margins are integer sums, the mean divides at
   *  the final projection. */
  def langidMargin(docs: DataFrame, minMargin: Long = 3L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = Seq(
      ("the", "en", 3L), ("a", "en", 1L),
      ("spark", "tech", 2L), ("data", "tech", 1L),
      ("le", "fr", 3L), ("la", "fr", 1L)).toDF("word", "cand_lang", "weight")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val scores = toks.join(broadcast(markers), "word")
      .groupBy("doc_id", "cand_lang")
      .agg(sum("weight").as("score"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("cand_lang"))))
      .filter(col("rk") <= 2)
    val best = scores.filter(col("rk") === 1)
      .select(col("doc_id"), col("cand_lang").as("lang_guess"),
        col("score").as("best_score"))
    val second = scores.filter(col("rk") === 2)
      .select(col("doc_id"), col("score").as("second_score"))
    val perDoc = docs.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .join(second, Seq("doc_id"), "left")
      .select(
        coalesce(col("lang_guess"), lit("und")).as("lang_guess"),
        col("best_score"), col("second_score"),
        when(col("best_score").isNull, lit(null))
          .otherwise(col("best_score") - coalesce(col("second_score"), lit(0L)))
          .as("margin"))
    perDoc.groupBy("lang_guess")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") >= minMargin, 1L).otherwise(0L)).as("n_confident"),
        sum(when(col("second_score").isNotNull
            && col("margin") < minMargin, 1L).otherwise(0L)).as("n_ambiguous"),
        sum(when(col("best_score").isNotNull
            && col("second_score").isNull, 1L).otherwise(0L)).as("n_single"),
        sum(coalesce(col("margin"), lit(0L))).as("margin_sum"))
      .select(col("lang_guess"), col("n_docs"), col("n_confident"),
        col("n_ambiguous"), col("n_single"),
        r4(col("margin_sum") * lit(1.0) / col("n_docs")).as("mean_margin"))
      .orderBy("lang_guess")
  }

  /** [[langIdOracle]]'s marker/score chain with rk <= 2 kept; margin,
   *  confidence, and ambiguity rules mirror the Spark expressions. */
  val langidMarginOracle: String = """
WITH markers(word, cand_lang, weight) AS (
  VALUES ('the', 'en', 3), ('a', 'en', 1),
         ('spark', 'tech', 2), ('data', 'tech', 1),
         ('le', 'fr', 3), ('la', 'fr', 1)),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
scores AS (
  SELECT t.doc_id, m.cand_lang, CAST(SUM(m.weight) AS BIGINT) AS score
  FROM toks t JOIN markers m ON t.word = m.word
  GROUP BY t.doc_id, m.cand_lang),
ranked AS (
  SELECT doc_id, cand_lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rk
  FROM scores),
perdoc AS (
  SELECT d.doc_id,
         COALESCE(b.cand_lang, 'und') AS lang_guess,
         b.score AS best_score,
         s.score AS second_score,
         CASE WHEN b.score IS NULL THEN NULL
              ELSE b.score - COALESCE(s.score, 0) END AS margin
  FROM documents d
  LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) b ON d.doc_id = b.doc_id
  LEFT JOIN (SELECT * FROM ranked WHERE rk = 2) s ON d.doc_id = s.doc_id)
SELECT lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN margin >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_confident,
       CAST(SUM(CASE WHEN second_score IS NOT NULL AND margin < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ambiguous,
       CAST(SUM(CASE WHEN best_score IS NOT NULL AND second_score IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_single,
       FLOOR((SUM(COALESCE(margin, 0)) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS mean_margin
FROM perdoc GROUP BY lang_guess ORDER BY lang_guess"""

  /** Language-ID confusion matrix against the corpus's gold `lang`
   *  labels — the validation pass that says whether [[langId]]'s
   *  marker heuristic can be TRUSTED to route language-conditional
   *  operators (per-lang tertiles in `surprisal_buckets`, per-lang
   *  quotas in `curation_sample`, `mix_temperature`'s rebalancing)
   *  before it silently misroutes a low-resource language. Per
   *  (gold, guessed) cell: doc count, token mass, and the share of
   *  the gold language's docs landing in that cell (row-normalized —
   *  the diagonal is per-language recall). Shape at scale: the
   *  classifier pass is [[langId]] verbatim (broadcast marker join,
   *  partial-agg argmax); the matrix is ONE map-side-combining
   *  aggregate to |gold|×|guess| cells, and the share window runs
   *  over that bounded cell frame only, never the corpus. */
  def langConfusion(docs: DataFrame): DataFrame = {
    val guess = langId(docs).select("doc_id", "lang_guess")
    val base = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val cells = base.join(guess, "doc_id")
      .groupBy(col("lang").as("gold_lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val goldW = org.apache.spark.sql.expressions.Window.partitionBy("gold_lang")
    cells
      .withColumn("gold_docs", sum("n_docs").over(goldW))
      .select(col("gold_lang"), col("lang_guess"), col("n_docs"),
        col("n_tokens"),
        r4(col("n_docs") * lit(1.0) / col("gold_docs")).as("gold_share"))
      .orderBy("gold_lang", "lang_guess")
  }

  /** Extends [[langIdOracle]]'s marker chain with the gold join and
   *  the cell-frame share window. */
  val langConfusionOracle: String = """
WITH markers(word, cand_lang, weight) AS (
  VALUES ('the', 'en', 3), ('a', 'en', 1),
         ('spark', 'tech', 2), ('data', 'tech', 1),
         ('le', 'fr', 3), ('la', 'fr', 1)),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
scores AS (
  SELECT t.doc_id, m.cand_lang, CAST(SUM(m.weight) AS BIGINT) AS score
  FROM toks t JOIN markers m ON t.word = m.word
  GROUP BY t.doc_id, m.cand_lang),
best AS (
  SELECT doc_id, cand_lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rk
  FROM scores),
guessed AS (
  SELECT d.doc_id, d.lang AS gold_lang,
         COALESCE(b.cand_lang, 'und') AS lang_guess,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
  FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
    ON d.doc_id = b.doc_id),
cells AS (
  SELECT gold_lang, lang_guess,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM guessed GROUP BY gold_lang, lang_guess)
SELECT gold_lang, lang_guess, n_docs, n_tokens,
       FLOOR((n_docs * 1.0 / SUM(n_docs) OVER (PARTITION BY gold_lang))
             * 10000.0 + 0.5) / 10000.0 AS gold_share
FROM cells
ORDER BY gold_lang, lang_guess"""

  /** The composite quality expression shared by [[qualityScore]] (which
   *  also surfaces the components) and [[qualitySweep]] (which buckets
   *  it) — one definition so the two keys can never drift. */
  private[pipeline] def qualityCol: org.apache.spark.sql.Column = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val nDistinct = size(array_distinct(split(col("text"), " "))).cast("long")
    // lambda-free stop-token count: |split| - |split minus 'the'/'a'|
    // (the filter(...) HOF spelling ran its lambda interpreted per
    // token per row; array_remove is codegen'd, values identical)
    val stopTok = nTok -
      size(array_remove(array_remove(split(col("text"), " "), "the"), "a"))
        .cast("long")
    val punct = size(expr("regexp_extract_all(text, '[.,!?;:]', 0)")).cast("long")
    val lenScore = least(lit(1.0), col("n_chars") / lit(500.0))
    val divScore = nDistinct * lit(1.0) / nTok
    val stopRatio = stopTok * lit(1.0) / nTok
    val punctRatio = punct * lit(1.0) /
      when(col("n_chars") > 0, col("n_chars")).otherwise(lit(1L))
    r4(lit(0.4) * lenScore + lit(0.4) * divScore
      + lit(0.2) * (lit(1.0) - stopRatio) - punctRatio)
  }

  /** The matching DuckDB quality formula over a frame exposing
   *  `text, n_chars` — the SQL twin of [[qualityCol]], inlined by both
   *  oracles. */
  private[pipeline] val qualitySqlExpr: String =
    """FLOOR((0.4 * LEAST(1.0, n_chars / 500.0)
             + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1.0 / len(string_split(text, ' ')))
             + 0.2 * (1.0 - CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS BIGINT) * 1.0 / len(string_split(text, ' ')))
             - CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT) * 1.0 / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)) * 10000.0 + 0.5) / 10000.0"""

  /** Quality score: length saturation + lexical diversity + stopword
   *  penalty + punctuation-noise penalty, all from integer counts. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val nDistinct = size(array_distinct(split(col("text"), " "))).cast("long")
    // lambda-free stop-token count: |split| - |split minus 'the'/'a'|
    // (the filter(...) HOF spelling ran its lambda interpreted per
    // token per row; array_remove is codegen'd, values identical)
    val stopTok = nTok -
      size(array_remove(array_remove(split(col("text"), " "), "the"), "a"))
        .cast("long")
    val punct = size(expr("regexp_extract_all(text, '[.,!?;:]', 0)")).cast("long")
    val lenScore = least(lit(1.0), col("n_chars") / lit(500.0))
    val divScore = nDistinct * lit(1.0) / nTok
    val stopRatio = stopTok * lit(1.0) / nTok
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      nDistinct.as("n_distinct_tokens"),
      stopTok.as("n_stopwords"),
      punct.as("n_punct"),
      r4(lenScore).as("length_score"),
      r4(divScore).as("diversity_score"),
      r4(stopRatio).as("stopword_ratio"),
      qualityCol.as("quality"))
      .orderBy("doc_id")
  }

  val qualityScoreOracle: String = """
WITH q AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS BIGINT) AS stop_tok,
         CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT) AS punct
  FROM documents)
SELECT doc_id, n_tok AS n_tokens, n_distinct AS n_distinct_tokens,
       stop_tok AS n_stopwords, punct AS n_punct,
       FLOOR((LEAST(1.0, n_chars / 500.0)) * 10000.0 + 0.5) / 10000.0 AS length_score,
       FLOOR((n_distinct * 1.0 / n_tok) * 10000.0 + 0.5) / 10000.0 AS diversity_score,
       FLOOR((stop_tok * 1.0 / n_tok) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
       FLOOR((0.4 * LEAST(1.0, n_chars / 500.0)
             + 0.4 * (n_distinct * 1.0 / n_tok)
             + 0.2 * (1.0 - stop_tok * 1.0 / n_tok)
             - punct * 1.0 / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)) * 10000.0 + 0.5) / 10000.0 AS quality
FROM q
ORDER BY doc_id"""

  /** Pairwise Pearson correlation among the per-doc quality SIGNALS —
   *  the redundancy audit run before paying for every signal at
   *  100 TB: two signals correlated at |r| ≈ 1 gate the same
   *  documents, and the cheaper one wins ([[qualityScore]] mixes
   *  them; [[dupQualityProfile]]/[[lengthQualityMatrix]] cross ONE
   *  signal against externals — this crosses the signals against
   *  each other). Four integer-quantized signals per doc, spellings
   *  shared with [[qualityScore]]'s q chain: token count, distinct-
   *  token ratio, stopword ratio, punctuation density (milli units,
   *  floor division). Pearson from the moment sums: all Σx/Σx²/Σxy
   *  accumulate as EXACT BIGINTs (signals ≤ 4e3, products ≤ 1.6e7 —
   *  a corpus needs > 2e12 docs with > 4000 tokens each to overflow,
   *  past 100 TB), the final `(nΣxy − ΣxΣy)/√(nΣx²−(Σx)²)√(…)` runs
   *  in DOUBLE on the one-row moment frame (the
   *  [[graft.analytics.Trends.eventRateAnomalies]] discipline:
   *  integer aggregation, IEEE-identical scalar tail). Zero-variance
   *  signals report r = 0.0. ONE map-side-combining aggregation to a
   *  single moment row; the 6-pair unpivot is driver-free
   *  projection. */
  def signalCorrelations(docs: DataFrame): DataFrame = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val nDistinct = size(array_distinct(split(col("text"), " "))).cast("long")
    // lambda-free stop-token count: |split| - |split minus 'the'/'a'|
    // (the filter(...) HOF spelling ran its lambda interpreted per
    // token per row; array_remove is codegen'd, values identical)
    val stopTok = nTok -
      size(array_remove(array_remove(split(col("text"), " "), "the"), "a"))
        .cast("long")
    val punct = size(expr("regexp_extract_all(text, '[.,!?;:]', 0)")).cast("long")
    val xs = docs.select(
        nTok.as("n_tok"), nDistinct.as("n_distinct"),
        stopTok.as("stop_tok"), punct.as("punct"), col("n_chars"))
      .filter(col("n_tok") >= 1L)
      .select(
        col("n_tok").as("x1"),
        expr("n_distinct * 1000 div n_tok").as("x2"),
        expr("stop_tok * 1000 div n_tok").as("x3"),
        expr("punct * 1000 div greatest(n_chars, 1)").as("x4"))
    val names = Seq("len_tok", "distinct_milli", "stop_milli", "punct_milli")
    val idx = 1 to 4
    val moments = xs.agg(
      count(lit(1)).as("n"),
      (idx.map(i => sum(col(s"x$i")).as(s"s$i")) ++
        idx.map(i => sum(col(s"x$i") * col(s"x$i")).as(s"q$i")) ++
        (for (i <- idx; j <- idx if i < j)
          yield sum(col(s"x$i") * col(s"x$j")).as(s"p$i$j"))): _*)
    val nD = col("n").cast("double")
    def variance(i: Int) =
      nD * col(s"q$i") - col(s"s$i").cast("double") * col(s"s$i")
    val rows = for (i <- idx; j <- idx if i < j) yield moments.select(
      lit(names(i - 1)).as("metric_a"), lit(names(j - 1)).as("metric_b"),
      col("n").as("n_docs"),
      when(variance(i) * variance(j) <= 0.0, lit(0.0))
        .otherwise(r4(
          (nD * col(s"p$i$j") - col(s"s$i").cast("double") * col(s"s$j"))
            / (sqrt(variance(i)) * sqrt(variance(j))))).as("r"))
    rows.reduce(_.unionByName(_)).orderBy("metric_a", "metric_b")
  }

  /** Shares [[qualityScoreOracle]]'s q-chain spellings; the moment
   *  sums CAST to BIGINT (HUGEINT guard) and the Pearson tail mirrors
   *  the Spark double chain term for term. */
  lazy val signalCorrelationsOracle: String = {
    val names = Map(1 -> "len_tok", 2 -> "distinct_milli",
      3 -> "stop_milli", 4 -> "punct_milli")
    val idx = 1 to 4
    val sums = (idx.map(i => s"CAST(SUM(x$i) AS BIGINT) AS s$i") ++
      idx.map(i => s"CAST(SUM(x$i * x$i) AS BIGINT) AS q$i") ++
      (for (i <- idx; j <- idx if i < j)
        yield s"CAST(SUM(x$i * x$j) AS BIGINT) AS p$i$j")).mkString(",\n         ")
    def v(i: Int) =
      s"(CAST(n AS DOUBLE) * q$i - CAST(s$i AS DOUBLE) * s$i)"
    val rows = (for (i <- idx; j <- idx if i < j) yield s"""
SELECT '${names(i)}' AS metric_a, '${names(j)}' AS metric_b, n AS n_docs,
       CASE WHEN ${v(i)} * ${v(j)} <= 0.0 THEN 0.0
            ELSE FLOOR(((CAST(n AS DOUBLE) * p$i$j - CAST(s$i AS DOUBLE) * s$j)
                        / (sqrt(${v(i)}) * sqrt(${v(j)}))) * 10000.0 + 0.5) / 10000.0
       END AS r
FROM st""").mkString("\nUNION ALL")
    s"""
WITH m AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS BIGINT) AS stop_tok,
         CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT) AS punct
  FROM documents),
x AS (
  SELECT n_tok AS x1,
         n_distinct * 1000 // n_tok AS x2,
         stop_tok * 1000 // n_tok AS x3,
         punct * 1000 // GREATEST(n_chars, 1) AS x4
  FROM m WHERE n_tok >= 1),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         $sums
  FROM x)$rows
ORDER BY metric_a, metric_b"""
  }

  /** Length × quality joint distribution — the "are we dropping long
   *  documents disproportionately?" audit a quality cutoff needs
   *  before [[qualitySweep]]'s 1-D survival curve is trusted: a
   *  threshold that looks cheap overall can silently gut one length
   *  band (long-form docs score low on diversity, short ones on
   *  length). Cells are (floor(log2(n_chars)), floor(quality*10));
   *  per cell: docs, token mass, and the cell's share of its length
   *  band. Exactness: log2 via the integer `length(bin(x)) - 1` trick
   *  ([[lmSurprisal]] precedent), the quality decile floors the
   *  ALREADY-r4-rounded shared [[qualityCol]] (bit-identical doubles
   *  both engines, the [[qualitySweep]] bucket-edge discipline).
   *  Shape: ONE map-side-combining agg to |len|×|q| cells; the
   *  length-band share window runs over that bounded frame only. */
  def lengthQualityMatrix(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(
      (length(expr("bin(greatest(n_chars, 1))")) - 1).cast("long")
        .as("len_bucket"),
      floor(qualityCol * lit(10)).cast("long").as("q_bucket"),
      expr("(n_chars + 3) div 4").as("tok"))
    val cells = perDoc.groupBy("len_bucket", "q_bucket").agg(
      count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
    val bandW = Window.partitionBy("len_bucket")
    cells
      .withColumn("band_docs", sum("n_docs").over(bandW))
      .select(col("len_bucket"), col("q_bucket"), col("n_docs"), col("tokens"),
        r4(col("n_docs") * lit(1.0) / col("band_docs")).as("band_share"))
      .orderBy("len_bucket", "q_bucket")
  }

  // lazy: interpolates qualitySqlExpr, declared below (object-init order)
  lazy val lengthQualityMatrixOracle: String = s"""
WITH pd AS (
  SELECT CAST(len(bin(GREATEST(n_chars, 1))) - 1 AS BIGINT) AS len_bucket,
         CAST(FLOOR(($qualitySqlExpr) * 10) AS BIGINT) AS q_bucket,
         (n_chars + 3) // 4 AS tok
  FROM documents),
cells AS (
  SELECT len_bucket, q_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tok) AS BIGINT) AS tokens
  FROM pd GROUP BY len_bucket, q_bucket),
w AS (
  SELECT len_bucket, q_bucket, n_docs, tokens,
         CAST(SUM(n_docs) OVER (PARTITION BY len_bucket) AS BIGINT) AS band_docs
  FROM cells)
SELECT len_bucket, q_bucket, n_docs, tokens,
       ${graft.util.Round.r4Sql("n_docs * 1.0 / band_docs")} AS band_share
FROM w
ORDER BY len_bucket, q_bucket"""

  /** Quality-filter survival sweep: what a threshold choice would keep.
   *  Docs land in 0.05-wide quality buckets; each row reports the
   *  bucket's own mass plus the CUMULATIVE docs/tokens surviving a
   *  filter at `quality >= threshold` and that survival share — the
   *  curve a curation run reads before committing to a cutoff (the
   *  "how much data does 0.7 cost me" question), produced without
   *  running the filter N times. Shape at scale: the corpus collapses
   *  in ONE map-side-combining aggregation to bucket cardinality
   *  (tens of rows at any SF); the cumulative windows then run over
   *  that aggregate only — unpartitioned by construction but never
   *  touching the corpus, the [[Sampling.sourceMix]] precedent.
   *  Bucketing floors the ALREADY-r4-ROUNDED quality — both engines
   *  evaluate bit-identical doubles, so the bucket edge is
   *  cross-engine exact. */
  def qualitySweep(docs: DataFrame): DataFrame = {
    val buckets = docs
      .select(
        expr("(n_chars + 3) div 4").as("bpe_tokens_est"),
        qualityCol.as("quality"))
      .withColumn("bucket", floor(col("quality") * 20).cast("long"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        sum("bpe_tokens_est").as("n_tokens"))
    val desc = Window.orderBy(col("bucket").desc)
    val cum = desc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = desc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    buckets
      .withColumn("cum_docs", sum("n_docs").over(cum))
      .withColumn("cum_tokens", sum("n_tokens").over(cum))
      .withColumn("total_docs", sum("n_docs").over(all))
      .select(
        col("bucket"),
        r4(col("bucket") / lit(20.0)).as("threshold"),
        col("n_docs"), col("n_tokens"), col("cum_docs"), col("cum_tokens"),
        r4(col("cum_docs") * lit(1.0) / col("total_docs")).as("survival_ratio"))
      .orderBy(col("bucket").desc)
  }

  val qualitySweepOracle: String = s"""
WITH s AS (
  SELECT (n_chars + 3) // 4 AS bpe_tokens_est,
         $qualitySqlExpr AS quality
  FROM documents),
b AS (
  SELECT CAST(FLOOR(quality * 20) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(bpe_tokens_est) AS BIGINT) AS n_tokens
  FROM s GROUP BY 1)
SELECT bucket,
       FLOOR((bucket / 20.0) * 10000.0 + 0.5) / 10000.0 AS threshold,
       n_docs, n_tokens,
       CAST(SUM(n_docs) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
       CAST(SUM(n_tokens) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       FLOOR((SUM(n_docs) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
         / SUM(n_docs) OVER ()) * 10000.0 + 0.5) / 10000.0 AS survival_ratio
FROM b
ORDER BY bucket DESC"""

  /** Document fingerprint: md5 over whitespace-normalised lowercase
   *  content. Used as the join key for exact dedup at scale. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(to_binary(lower(trim(regexp_replace(col("text"), "\\s+", " "))), lit("utf-8")))
        .as("content_fp"))
      .orderBy("doc_id")

  val fingerprintOracle: String = """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_fp
FROM documents
ORDER BY doc_id"""

  /** Winnowing fingerprints (Schleimer-Wilkerson-Aiken, SIGMOD'03 —
   *  the MOSS algorithm): hash every word `n`-gram, slide a window of
   *  `w` consecutive gram hashes over each document, and keep the
   *  minimum hash per window — the selected set is position-robust
   *  (any sufficiently long shared passage between two docs is
   *  GUARANTEED to share a fingerprint), ~2/(w+1) dense, and
   *  local: inserting text far from a passage cannot change which of
   *  the passage's grams are selected. The cross-doc overlap-join on
   *  the output is the plagiarism/boilerplate detector `fingerprint`'s
   *  whole-doc digest cannot express.
   *
   *  Determinism: gram hash = the codegen'd [[graft.functions.PolyHash]]
   *  (values < 2^20), packed with the gram position into ONE integer
   *  (`h * 2^20 + pos`), so the per-window argmin is a plain integer
   *  `MIN` — aggregation-order free, ties resolved toward the LEFTMOST
   *  minimal gram by construction (the SWA paper picks rightmost;
   *  either is a valid deterministic winnowing — noted, not hidden).
   *  Scale shape: the native whole-selection expression
   *  ([[graft.functions.WinnowFps]]) runs the gram hash, sliding-window
   *  min and distinct in ONE in-row loop, so the plan is scan →
   *  project → explode of the SELECTED set (~2/(w+1) of the grams);
   *  no exchange, no join, no window, text never passes an exchange.
   *  Rows come out in position order within a doc but unordered across
   *  docs: the frame is also fingerprint STATE (`winnow_overlap_incr`
   *  pins it), and no state reader needs a global sort, so the
   *  `winnow_fingerprints` keys order their own output. The oracle
   *  re-derives the selection with a doc-partitioned sliding-window
   *  MIN. */
  def winnowFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame =
    docs
      .select(col("doc_id"),
        explode(call_function("winnow_fps", col("text"), lit(n), lit(w)))
          .as("wmin"))
      .select(col("doc_id"),
        (col("wmin") % lit(1048576L)).as("fp_pos"),
        expr("wmin div 1048576").as("fp_hash"))

  /** Mirrors the packed-min winnowing selection; the recursive `pw`
   *  power table reproduces [[graft.functions.PolyHash]] exactly
   *  (code-point granular — the documented ASCII-corpus assumption
   *  [[graft.pipeline.Dedup.polyShidCte]] carries applies here too). */
  /** The winnowing selection CTE chain (toks → … → sel(doc_id, wmin))
   *  — one SQL definition of the selection, shared by
   *  [[winnowFingerprintsOracle]], the overlap oracles, and
   *  [[winnowDensityOracle]] so the packed-min arithmetic can never
   *  drift between them. */
  private val winnowSelCte: String = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_grams,
         CAST(unnest(range(0, GREATEST(len(t) - 2, 0))) AS BIGINT) AS pos, t
  FROM toks),
grams AS (
  SELECT doc_id, n_grams, pos,
         t[pos + 1] || ' ' || t[pos + 2] || ' ' || t[pos + 3] AS gram
  FROM g),
pw AS (
  SELECT 1 AS i, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT i + 1, (v * 31) % 1000003 FROM pw WHERE i < 64),
ph AS (
  SELECT gr.doc_id, gr.n_grams, gr.pos,
         CAST(SUM(ord(substr(gr.gram, p.i, 1)) * p.v) % 1000003 AS BIGINT) AS h
  FROM grams gr JOIN pw p ON p.i <= LEAST(len(gr.gram), 64)
  GROUP BY gr.doc_id, gr.n_grams, gr.pos),
wm AS (
  SELECT doc_id, n_grams, pos,
         MIN(h * 1048576 + pos) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM ph),
sel AS (
  SELECT DISTINCT doc_id, wmin FROM wm WHERE pos <= n_grams - 4)"""

  val winnowFingerprintsOracle: String = winnowSelCte + """
SELECT doc_id, CAST(wmin % 1048576 AS BIGINT) AS fp_pos,
       CAST(wmin // 1048576 AS BIGINT) AS fp_hash
FROM sel
ORDER BY doc_id, fp_pos"""

  /** Winnowing DENSITY calibration — "measure, don't guess" applied
   *  to the winnowing guarantee itself: SWA's analysis promises the
   *  selected-fingerprint density approaches 2/(w+1) on random hash
   *  sequences, and every consumer ([[winnowOverlap]]'s index size,
   *  the incremental fp store's growth rate) is sized off that
   *  number. Per source: documents, window count, selected
   *  fingerprints, the measured density, and the analytic value side
   *  by side — a source whose density runs hot has repetitive text
   *  re-selecting the same minima's neighbors (more windows, same
   *  fps would run COLD; boilerplate-heavy short cycles run hot), and
   *  its fp store will not size like the analytic predicts.
   *
   *  Shape: selection via the native `winnow_fps` expression (in-row
   *  loop, no per-gram exchange), one doc-keyed count join, rollup to
   *  |sources| rows. Window count is pure per-doc arithmetic
   *  (`max(0, n_tok - n - w + 2)`). */
  def winnowDensity(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    val sel = winnowFingerprints(docs.select("doc_id", "text"), n, w)
      .groupBy("doc_id").agg(count(lit(1)).as("n_sel"))
    docs.select(col("doc_id"), col("source"),
        greatest(lit(0L), size(split(col("text"), " ")).cast("long")
          - lit((n + w - 2).toLong)).as("n_windows"))
      .join(sel, Seq("doc_id"), "left")
      .withColumn("n_sel", coalesce(col("n_sel"), lit(0L)))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_windows").as("n_windows"),
        sum("n_sel").as("n_fps"))
      .select(col("source"), col("n_docs"), col("n_windows"), col("n_fps"),
        r4(col("n_fps") * lit(1.0) / greatest(col("n_windows"), lit(1L)))
          .as("density"),
        r4(lit(2.0) / (w + 1)).as("analytic_density"))
      .orderBy("source")
  }

  /** Rides [[winnowSelCte]] — the one SQL selection definition. */
  val winnowDensityOracle: String = winnowSelCte + """,
selc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sel FROM sel GROUP BY doc_id),
per AS (
  SELECT d.source,
         GREATEST(0, CAST(len(string_split(d.text, ' ')) AS BIGINT) - 5) AS n_windows,
         COALESCE(s.n_sel, 0) AS n_sel
  FROM documents d LEFT JOIN selc s ON d.doc_id = s.doc_id)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_windows) AS BIGINT) AS n_windows,
       CAST(SUM(n_sel) AS BIGINT) AS n_fps,
       FLOOR((SUM(n_sel) * 1.0 / GREATEST(SUM(n_windows), 1)) * 10000.0 + 0.5) / 10000.0 AS density,
       FLOOR((2.0 / 5) * 10000.0 + 0.5) / 10000.0 AS analytic_density
FROM per
GROUP BY source
ORDER BY source"""

  /** Cross-document passage overlap on [[winnowFingerprints]] — the
   *  MOSS detector itself: two docs sharing `minShared`+ winnowed
   *  fingerprints share that many distinct locally-minimal passages,
   *  which catches copied/boilerplate SPANS between documents whose
   *  overall Jaccard is far below any near-dup threshold (a 10-line
   *  license block inside two otherwise-unrelated files). Same
   *  inverted-index blocking discipline as the n-gram dedup family:
   *  fingerprints with document frequency > `maxDf` are dropped
   *  before pairing (a fingerprint in thousands of docs is corpus
   *  boilerplate — it would contribute quadratic pairs and no
   *  discrimination). The df cap is also the skew guard: every
   *  surviving join key fans out to at most maxDf members (maxDf²/2
   *  pairs), so the pair join needs no salting — the shared-count is
   *  the per-pair multiplicity of the keyed self-join, which is why
   *  this does NOT reuse `saltedBucketPairs` (that helper returns the
   *  distinct pair SET and deliberately erases multiplicity).
   *  Accepts a precomputed fingerprint frame (the persisted output of
   *  [[winnowFingerprints]]) so the corpus is fingerprinted once,
   *  not per overlap query. */
  def winnowOverlap(docs: DataFrame, maxDf: Long = 5L, minShared: Long = 2L,
                    precomputedFps: Option[DataFrame] = None): DataFrame = {
    val fps = precomputedFps.getOrElse(winnowFingerprints(docs))
      .select("doc_id", "fp_hash").distinct()
    val df = fps.groupBy("fp_hash").agg(count(lit(1)).as("df_cnt"))
    val rare = fps.join(df.filter(col("df_cnt") <= maxDf), "fp_hash")
    rare.select(col("fp_hash"), col("doc_id").as("doc_a"))
      .join(rare.select(col("fp_hash"), col("doc_id").as("doc_b")), "fp_hash")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Extends [[winnowFingerprintsOracle]]'s chain; the plain self-join
   *  mirrors the salted pair set exactly (salting never changes the
   *  pair SET, asserted in PipelineSpec). */
  val winnowOverlapOracle: String = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_grams,
         CAST(unnest(range(0, GREATEST(len(t) - 2, 0))) AS BIGINT) AS pos, t
  FROM toks),
grams AS (
  SELECT doc_id, n_grams, pos,
         t[pos + 1] || ' ' || t[pos + 2] || ' ' || t[pos + 3] AS gram
  FROM g),
pw AS (
  SELECT 1 AS i, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT i + 1, (v * 31) % 1000003 FROM pw WHERE i < 64),
ph AS (
  SELECT gr.doc_id, gr.n_grams, gr.pos,
         CAST(SUM(ord(substr(gr.gram, p.i, 1)) * p.v) % 1000003 AS BIGINT) AS h
  FROM grams gr JOIN pw p ON p.i <= LEAST(len(gr.gram), 64)
  GROUP BY gr.doc_id, gr.n_grams, gr.pos),
wm AS (
  SELECT doc_id, n_grams, pos,
         MIN(h * 1048576 + pos) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM ph),
fpd AS (
  SELECT DISTINCT doc_id, wmin // 1048576 AS fp_hash
  FROM wm WHERE pos <= n_grams - 4),
dfc AS (
  SELECT fp_hash, COUNT(*) AS df_cnt FROM fpd GROUP BY fp_hash),
rare AS (
  SELECT f.doc_id, f.fp_hash
  FROM fpd f JOIN dfc ON f.fp_hash = dfc.fp_hash
  WHERE dfc.df_cnt <= 5),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared_fps
  FROM rare a JOIN rare b
    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, shared_fps
FROM p WHERE shared_fps >= 2
ORDER BY doc_a, doc_b"""

  /** Incremental winnowed passage-overlap (SEVENTH incremental family
   *  member — the span-overlap twin of the pair detectors): a batch of
   *  new docs is fingerprinted ([[winnowFingerprints]], batch-only
   *  pass) and paired against the corpus FINGERPRINT frame — corpus
   *  text is never re-read (fingerprints are per-document state, the
   *  [[graft.pipeline.Dedup.dedupSimhashIncremental]] story at ~2/(w+1)
   *  rows per gram). The df boilerplate cap is corpus+batch-wide (one
   *  partial agg over the fp frames, no text), so the output is
   *  BIT-IDENTICAL to the full [[winnowOverlap]] run restricted to
   *  pairs with a batch endpoint; old-old pairs are never enumerated
   *  (batch side of the join is batch fps only). The corpus enters as
   *  state only: `corpusFps`, the [[winnowFingerprints]] frame (or a
   *  persisted store of it); the canonicalize+distinct collapses the
   *  two orientations a batch-batch pair generates. */
  def winnowOverlapIncremental(corpusFps: DataFrame, batch: DataFrame,
                               maxDf: Long = 5L, minShared: Long = 2L): DataFrame = {
    val cf = corpusFps.select("doc_id", "fp_hash").distinct()
    val bf = winnowFingerprints(batch)
      .select("doc_id", "fp_hash").distinct()
    val all = cf.union(bf)
    val rareHashes = all.groupBy("fp_hash").agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt") <= maxDf).select("fp_hash")
    val rareAll = all.join(rareHashes, "fp_hash")
    val rareBatch = bf.join(rareHashes, "fp_hash")
    rareBatch.select(col("fp_hash"), col("doc_id").as("da"))
      .join(rareAll.select(col("fp_hash"), col("doc_id").as("db")), "fp_hash")
      .filter(col("da") =!= col("db"))
      .select(col("fp_hash"), least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .distinct()
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** The [[winnowOverlapOracle]] chain verbatim, restricted to pairs
   *  with a batch endpoint (harness split: batch = doc_id >= 400). */
  val winnowOverlapIncrementalOracle: String =
    winnowOverlapOracle.replace(
      "FROM p WHERE shared_fps >= 2",
      "FROM p WHERE shared_fps >= 2 AND (doc_a >= 400 OR doc_b >= 400)")

  /** Top-k distinctive terms per doc, ranked tf/df descending (the
   *  classic tf-idf shape with a rational idf — no logs, so the score
   *  is an exact ratio of integers and the ordering is engine-exact;
   *  ties broken by term). Shape at scale: one explode + two partial
   *  aggregations + a term-keyed join of (doc, term, tf) against the
   *  term document-frequency table (the inverted index) — the join
   *  keys on the term, so boilerplate terms spread over reducers by
   *  virtue of the (doc_id, term) pre-aggregation; no row ever carries
   *  the document text. */
  def tfidfTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy((col("tf") * lit(1.0) / col("df")).desc, col("term"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rank"),
        col("term"), col("tf"), col("df"),
        r4(col("tf") * lit(1.0) / col("df")).as("tfdf_score"))
      .orderBy("doc_id", "rank")
  }

  val tfidfTermsOracle: String = """
WITH tf AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tfc AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tf GROUP BY doc_id, term),
dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY term),
ranked AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id
           ORDER BY t.tf * 1.0 / d.df DESC, t.term) AS rk
  FROM tfc t JOIN dfc d ON t.term = d.term)
SELECT doc_id, CAST(rk AS BIGINT) AS rank, term, tf, df,
       FLOOR((tf * 1.0 / df) * 10000.0 + 0.5) / 10000.0 AS tfdf_score
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rank"""

  /** Novelty / boilerplate profile per doc from the 3-gram corpus
   *  document frequencies: how much of the doc is corpus-unique
   *  (df = 1) vs templated boilerplate (df >= boilerplateDf). The
   *  standard curation signal for dropping templated web pages before
   *  training. Reuses [[Dedup.shingles]] (shuffle-free) + one df
   *  aggregation + one gram-keyed join — the same inverted-index
   *  shape as near-dup blocking, so it shares physical layout with
   *  the dedup family at 100 TB. */
  def noveltyScore(docs: DataFrame, boilerplateDf: Long = 10L,
                   precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = precomputedShingles.getOrElse(Dedup.shingles(docs))
    val df = sh.groupBy("gram").agg(count(lit(1)).as("df"))
    val perDoc = sh.join(df, "gram")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("unique_grams"),
        sum(when(col("df") >= boilerplateDf, 1L).otherwise(0L)).as("boilerplate_grams"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("unique_grams"), lit(0L)).as("unique_grams"),
        coalesce(col("boilerplate_grams"), lit(0L)).as("boilerplate_grams"),
        r4(when(col("n_grams") > 0,
          col("unique_grams") * lit(1.0) / col("n_grams")).otherwise(lit(0.0)))
          .as("novelty"),
        r4(when(col("n_grams") > 0,
          col("boilerplate_grams") * lit(1.0) / col("n_grams")).otherwise(lit(0.0)))
          .as("boilerplate_ratio"))
      .orderBy("doc_id")
  }

  val noveltyScoreOracle: String = "WITH " + Dedup.shinglesCte.trim + """,
dfc AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM shingle GROUP BY gram),
perdoc AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_grams,
         CAST(SUM(CASE WHEN d.df >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS boilerplate_grams
  FROM shingle s JOIN dfc d ON s.gram = d.gram
  GROUP BY s.doc_id)
SELECT doc.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.unique_grams, 0) AS unique_grams,
       COALESCE(p.boilerplate_grams, 0) AS boilerplate_grams,
       FLOOR((CASE WHEN COALESCE(p.n_grams, 0) > 0
              THEN p.unique_grams * 1.0 / p.n_grams ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS novelty,
       FLOOR((CASE WHEN COALESCE(p.n_grams, 0) > 0
              THEN p.boilerplate_grams * 1.0 / p.n_grams ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS boilerplate_ratio
FROM documents doc LEFT JOIN perdoc p ON doc.doc_id = p.doc_id
ORDER BY doc.doc_id"""

  /** WITHIN-document repetition: 1 - distinct_3grams / total_3grams —
   *  the degenerate-text detector (looping generations, copy-pasted
   *  paragraphs, keyword stuffing) that [[noveltyScore]]'s CORPUS-df
   *  signals cannot see: a doc repeating its own rare sentence ten
   *  times scores fully novel there but ~0.9 here. Pure per-row
   *  projection — `word_ngrams` already dedups in-row, so distinct vs
   *  total needs NO explode and NO shuffle: the whole signal costs one
   *  codegen'd pass at any corpus size. Docs under 3 tokens have no
   *  grams → null repetition. */
  def repetitionScore(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      size(call_function("word_ngrams", col("text"), lit(3))).cast("long")
        .as("distinct_grams"))
      .withColumn("total_grams",
        greatest(col("n_tokens") - 2, lit(0L)))
      .withColumn("repetition",
        when(col("total_grams") > 0,
          r4(lit(1.0) - col("distinct_grams") * lit(1.0) / col("total_grams"))))
      .orderBy("doc_id")

  /** PII scrubbing: redact emails, IPv4 addresses, and phone-shaped
   *  number runs with typed placeholders, and count each kind — the
   *  compliance pass a training corpus runs before anything else. Pure
   *  per-row projection (three chained codegen'd regexp_replace calls,
   *  no shuffle, no UDF). Counts are measured on the SUCCESSIVELY
   *  redacted text, in replacement order (emails on the original, IPs
   *  after emails are gone, phones after IPs are gone), so a digit run
   *  inside an email is never double-counted as a phone; the DuckDB
   *  oracle nests its regexp_replace calls identically. Patterns stay
   *  inside the Java-regex ∩ RE2 common subset (no backrefs, no
   *  lookaround) so both engines see identical matches.
   *
   *  Phone shape: a compliance scrubber must not swallow every long
   *  digit run (epoch timestamps, UUID segments, ISBNs), so the
   *  pattern demands phone STRUCTURE — an international `+` run, or
   *  2-4 lead digits / a parenthesised area code followed by
   *  separator-delimited groups (3-4+3-4 digits, or a 7-digit local
   *  block). Word-boundary anchored on both ends so a match never
   *  starts or ends inside a longer digit run. The deliberate
   *  trade-off: an unseparated local number ("5551234567") is NOT
   *  redacted — without separators it is indistinguishable from an
   *  id, and false positives are the failure mode that matters in a
   *  scrub pass. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    val phone = "\\+\\d{7,14}\\b|(?:\\+\\d{1,3}[ -])?" +
      "(?:\\(\\d{1,4}\\)[ -]?|\\b\\d{2,4}[ -])" +
      "(?:\\d{3,4}[ -]\\d{3,4}|\\d{7})\\b"
    val afterEmail = regexp_replace(col("text"), email, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipv4, "<IP>")
    val scrubbed = regexp_replace(afterIp, phone, "<PHONE>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(email), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(ipv4), lit(0))).cast("long")
        .as("n_ips"),
      size(regexp_extract_all(afterIp, lit(phone), lit(0))).cast("long")
        .as("n_phones"),
      md5(to_binary(scrubbed, lit("utf-8"))).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** Per-source PII incidence — the compliance readout over
   *  [[piiScrub]]'s detectors: which sources carry emails / IPv4s /
   *  phone numbers, how many documents are affected, and the
   *  affected-document rate — the table a policy review reads before
   *  a source enters training. Counting follows piiScrub's scrub
   *  ORDER exactly (emails on raw text, IPs on the email-scrubbed
   *  text, phones on the IP-scrubbed text — no double counting when
   *  a phone-shaped run sits inside an IP), same regex literals, the
   *  Java-regex ∩ RE2 subset. One source-keyed partial agg over
   *  per-row integer counts; no shuffle of text. */
  def piiSourceRates(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    val phone = "\\+\\d{7,14}\\b|(?:\\+\\d{1,3}[ -])?" +
      "(?:\\(\\d{1,4}\\)[ -]?|\\b\\d{2,4}[ -])" +
      "(?:\\d{3,4}[ -]\\d{3,4}|\\d{7})\\b"
    val afterEmail = regexp_replace(col("text"), email, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipv4, "<IP>")
    val per = docs.select(col("source"),
      size(regexp_extract_all(col("text"), lit(email), lit(0))).cast("long")
        .as("e"),
      size(regexp_extract_all(afterEmail, lit(ipv4), lit(0))).cast("long")
        .as("ip"),
      size(regexp_extract_all(afterIp, lit(phone), lit(0))).cast("long")
        .as("ph"))
    per.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("ip") + col("ph") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum("e").as("n_emails"),
        sum("ip").as("n_ips"),
        sum("ph").as("n_phones"))
      .select(col("source"), col("n_docs"), col("docs_with_pii"),
        col("n_emails"), col("n_ips"), col("n_phones"),
        r4(col("docs_with_pii") * lit(1.0) / col("n_docs")).as("pii_doc_rate"))
      .orderBy("source")
  }

  /** [[piiScrubOracle]]'s scrub chain + the source rollup. */
  val piiSourceRatesOracle: String = """
WITH s AS (
  SELECT doc_id, source, text,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
  FROM documents),
s2 AS (
  SELECT doc_id, source, text, after_email,
         regexp_replace(after_email, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS after_ip
  FROM s),
per AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS BIGINT) AS e,
         CAST(len(regexp_extract_all(after_email, '\b(?:\d{1,3}\.){3}\d{1,3}\b', 0)) AS BIGINT) AS ip,
         CAST(len(regexp_extract_all(after_ip, '\+\d{7,14}\b|(?:\+\d{1,3}[ -])?(?:\(\d{1,4}\)[ -]?|\b\d{2,4}[ -])(?:\d{3,4}[ -]\d{3,4}|\d{7})\b', 0)) AS BIGINT) AS ph
  FROM s2)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN e + ip + ph > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(SUM(e) AS BIGINT) AS n_emails,
       CAST(SUM(ip) AS BIGINT) AS n_ips,
       CAST(SUM(ph) AS BIGINT) AS n_phones,
       FLOOR((SUM(CASE WHEN e + ip + ph > 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             * 10000.0 + 0.5) / 10000.0 AS pii_doc_rate
FROM per
GROUP BY source
ORDER BY source"""

  val piiScrubOracle: String = """
WITH s AS (
  SELECT doc_id, text,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
  FROM documents),
s2 AS (
  SELECT doc_id, text, after_email,
         regexp_replace(after_email, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS after_ip
  FROM s)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(after_email, '\b(?:\d{1,3}\.){3}\d{1,3}\b', 0)) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(after_ip, '\+\d{7,14}\b|(?:\+\d{1,3}[ -])?(?:\(\d{1,4}\)[ -]?|\b\d{2,4}[ -])(?:\d{3,4}[ -]\d{3,4}|\d{7})\b', 0)) AS BIGINT) AS n_phones,
       md5(regexp_replace(after_ip, '\+\d{7,14}\b|(?:\+\d{1,3}[ -])?(?:\(\d{1,4}\)[ -]?|\b\d{2,4}[ -])(?:\d{3,4}[ -]\d{3,4}|\d{7})\b', '<PHONE>', 'g')) AS clean_fp
FROM s2
ORDER BY doc_id"""

  /** Default blocklist for [[blocklistFilter]] — stand-ins for a
   *  policy list (C4's "bad words" file, a compliance deny-list);
   *  chosen from tokens the synthetic corpus actually contains so the
   *  mechanism is exercised with nonzero hits at every SF. Shared with
   *  the oracle builder. */
  val defaultBlocklist: Seq[String] = Seq("dup", "deadlock")

  /** Blocklist (bad-words) gate — the C4-style policy filter every
   *  crawl pipeline runs (Raffel et al. 2020 arXiv:1910.10683 drop
   *  pages containing any listed term): per doc, total blocklisted
   *  token occurrences, distinct listed terms present, and the keep
   *  flag (no hits). The list is a parameter; scale shape is the
   *  [[langId]] marker mechanism — token explode, BROADCAST list
   *  join (the list is policy-sized, never corpus-sized), one
   *  map-side-combining agg back to doc cardinality, left join for
   *  the zero-hit majority. All counts integer. */
  def blocklistFilter(docs: DataFrame,
                      blocklist: Seq[String] = defaultBlocklist): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bl = blocklist.toDF("term")
    val hits = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(broadcast(bl), "term")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"),
        countDistinct("term").as("n_terms"))
    docs.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        when(col("n_hits").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  /** Same explode + list join + zero-hit left join, list generated
   *  from the same [[defaultBlocklist]]. */
  val blocklistFilterOracle: String = {
    val terms = defaultBlocklist.map(t => s"('$t')").mkString(", ")
    s"""
WITH bl(term) AS (VALUES $terms),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
hits AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         CAST(COUNT(DISTINCT t.term) AS BIGINT) AS n_terms
  FROM toks t JOIN bl ON t.term = bl.term
  GROUP BY t.doc_id)
SELECT d.doc_id,
       COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
       COALESCE(h.n_terms, CAST(0 AS BIGINT)) AS n_terms,
       CASE WHEN h.n_hits IS NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
ORDER BY d.doc_id"""
  }

  /** Encoding-quality audit — the mojibake/binary-junk gate a crawl
   *  corpus runs before any text operator trusts `text`: per doc,
   *  counts of C0 control characters (except tab/newline/CR — the
   *  signature of binary data decoded as text) and U+FFFD replacement
   *  characters (the signature of a WRONG charset decode), a 0/1
   *  clean flag, and the bad-character rate. Pure per-row projection
   *  (two codegen'd regexp passes, counted as the length drop when
   *  each single-char class is stripped — no explode, no shuffle, no
   *  UDF). Patterns live TWICE (Scala + oracle) inside the Java-regex
   *  ∩ RE2 subset, the [[piiScrub]] discipline; the synthetic corpus
   *  is clean, so at any SF this key proves cross-engine parity on
   *  the no-op path while PipelineSpec pins the detection behavior on
   *  a corrupted fixture. */
  def encodingQuality(docs: DataFrame): DataFrame = {
    val ctrl = "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
    val repl = "\\x{FFFD}"
    val nCtrl = (length(col("text"))
      - length(regexp_replace(col("text"), ctrl, ""))).cast("long")
    val nRepl = (length(col("text"))
      - length(regexp_replace(col("text"), repl, ""))).cast("long")
    docs.select(
      col("doc_id"), col("n_chars"),
      nCtrl.as("n_ctrl"), nRepl.as("n_replacement"),
      when(nCtrl + nRepl === 0, lit(1L)).otherwise(lit(0L)).as("is_clean"),
      r4((nCtrl + nRepl) * lit(1.0)
        / greatest(length(col("text")).cast("long"), lit(1L)))
        .as("bad_char_rate"))
      .orderBy("doc_id")
  }

  val encodingQualityOracle: String = """
WITH s AS (
  SELECT doc_id, n_chars,
         CAST(length(text) - length(regexp_replace(text, '[\x01-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT) AS n_ctrl,
         CAST(length(text) - length(regexp_replace(text, '\x{FFFD}', '', 'g')) AS BIGINT) AS n_replacement,
         CAST(length(text) AS BIGINT) AS n_len
  FROM documents)
SELECT doc_id, n_chars, n_ctrl, n_replacement,
       CASE WHEN n_ctrl + n_replacement = 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_clean,
       FLOOR(((n_ctrl + n_replacement) * 1.0 / GREATEST(n_len, 1)) * 10000.0 + 0.5) / 10000.0 AS bad_char_rate
FROM s
ORDER BY doc_id"""

  /** Fixed-token-window passage chunking with overlap — the layout
   *  step that turns documents into training/retrieval passages:
   *  chunk i covers tokens [i*stride, i*stride + window), the last
   *  chunk keeps its tail short rather than re-padding. Pure per-row
   *  projection + explode — chunk count, boundaries, and content are
   *  all computed from the in-row token array, so the operator is a
   *  single codegen'd pass with NO shuffle at any corpus size (the
   *  explode multiplies rows ~n_tok/stride-fold BEFORE any downstream
   *  exchange, exactly where a 100 TB pipeline wants the fan-out).
   *  Chunk content is emitted as an md5 fingerprint, not the text:
   *  the passage store would be written directly from the slice;
   *  the fingerprint keeps this frame narrow and join-friendly. */
  def chunkPassages(docs: DataFrame, window: Int = 30,
                    stride: Int = 20): DataFrame =
    chunkFrame(docs, window, stride).orderBy("doc_id", "chunk_id")

  /** The chunk frame without the presentation sort — shared by
   *  [[chunkPassages]] and [[passageDedup]] (which exchanges by
   *  fingerprint next, so a pre-sort would be a wasted range
   *  exchange). */
  private def chunkFrame(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      "window must cover the stride or chunks would skip tokens")
    val words = split(col("text"), " ")
    docs.select(col("doc_id"), words.as("w"), size(words).cast("long").as("n"))
      .withColumn("n_chunks",
        when(col("n") <= window, lit(1L))
          .otherwise(expr(s"(n - $window + $stride - 1) div $stride") + lit(1L)))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        size(slice(col("w"), col("chunk_id") * stride + 1, lit(window)))
          .cast("long").as("chunk_tokens"),
        md5(to_binary(
          array_join(slice(col("w"), col("chunk_id") * stride + 1, lit(window)), " "),
          lit("utf-8"))).as("chunk_fp"))
  }

  /** Corpus-wide duplicated-passage fraction — the MassiveText-style
   *  "how much of this document lives inside spans that occur
   *  elsewhere" cleaning signal that doc-level near-dup misses
   *  (boilerplate headers, licence blocks, syndicated paragraphs
   *  pasted into otherwise-distinct documents). Every fixed-token
   *  window is fingerprinted ([[chunkFrame]]); identical fingerprints
   *  are ranked corpus-wide and only the FIRST occurrence (smallest
   *  (doc_id, chunk_id)) counts as original. Scale shape: the in-row
   *  explode fans out BEFORE the plan's only data exchange (hash
   *  partitioning by fingerprint for the rank window — no global
   *  sort), and the per-doc rollup partially aggregates map-side. */
  def passageDedup(docs: DataFrame, window: Int = 30,
                   stride: Int = 20): DataFrame = {
    val w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
    chunkFrame(docs, window, stride)
      .withColumn("occ", row_number().over(w))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("dup_chunks"))
      .withColumn("dup_ratio",
        r4(col("dup_chunks") * lit(1.0) / col("n_chunks")))
      .orderBy("doc_id")
  }

  /** Lexical rarity profile — the word-frequency quality heuristic
   *  (a doc dominated by corpus-rare tokens is jargon/noise/OCR
   *  garbage; one dominated by ultra-common tokens is boilerplate):
   *  each token is weighted by the DECIMAL DIGIT COUNT of its corpus
   *  frequency (digits = floor(log10)+1, computed as
   *  `length(CAST(count AS STRING))` — exact in every engine, unlike
   *  floor(log10(10^k)) which sits on a float boundary), and the doc
   *  reports the mean weight plus its hapax share (tokens whose
   *  corpus count is exactly 1). Shape at scale: one partial-agg
   *  `groupBy(term)` for the frequency table, one term-keyed join
   *  back to the exploded tokens (the [[tfidfTerms]]/[[noveltyScore]]
   *  df-join shape), one per-doc partial agg. No vocabulary window,
   *  no global sort. */
  def lexicalRarity(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("term_count"))
      .withColumn("digits", length(col("term_count").cast("string")).cast("long"))
    toks.join(freq, "term")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum("digits").as("digit_sum"),
        sum(when(col("term_count") === 1, 1L).otherwise(0L)).as("hapax_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("hapax_tokens"),
        r4(col("digit_sum") * lit(1.0) / col("n_tokens")).as("mean_freq_digits"),
        r4(col("hapax_tokens") * lit(1.0) / col("n_tokens")).as("hapax_ratio"))
      .orderBy("doc_id")
  }

  val lexicalRarityOracle: String = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
freq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS term_count,
         CAST(len(CAST(COUNT(*) AS VARCHAR)) AS BIGINT) AS digits
  FROM toks GROUP BY term)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN f.term_count = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens,
       FLOOR((CAST(SUM(f.digits) AS BIGINT) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS mean_freq_digits,
       FLOOR((CAST(SUM(CASE WHEN f.term_count = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS hapax_ratio
FROM toks t JOIN freq f ON t.term = f.term
GROUP BY t.doc_id
ORDER BY t.doc_id"""

  /** One-row corpus card — the summary a data pipeline publishes with
   *  every corpus snapshot (doc/token volume, source and language
   *  spread, exact-dup mass). ONE partial-aggregating pass: every
   *  measure is a map-side-combining count/sum/distinct over a pure
   *  projection, so the operator is a single scan at any corpus size.
   *  `dup_docs` = docs minus distinct content hashes — the mass an
   *  exact-dedup pass would remove, free from the same scan. */
  def corpusReport(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
      countDistinct("lang").as("n_langs"),
      countDistinct("source").as("n_sources"),
      countDistinct(md5(to_binary(col("text"), lit("utf-8")))).as("distinct_texts"))
    .select(
      col("n_docs"), col("total_tokens"), col("n_langs"), col("n_sources"),
      (col("n_docs") - col("distinct_texts")).as("dup_docs"),
      r4(col("total_tokens") * lit(1.0) / col("n_docs")).as("mean_tokens"))

  val corpusReportOracle: String = """
WITH d AS (
  SELECT doc_id, text, lang, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS dup_docs,
       FLOOR((CAST(SUM(n_tokens) AS BIGINT) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS mean_tokens
FROM d"""

  val passageDedupOracle: String = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents),
c AS (
  SELECT doc_id, w,
         unnest(range(0, CASE WHEN n <= 30 THEN 1
                              ELSE (n - 30 + 19) // 20 + 1 END)) AS chunk_id
  FROM t),
chunks AS (
  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         md5(array_to_string(w[CAST(chunk_id * 20 + 1 AS INTEGER) : CAST(chunk_id * 20 + 30 AS INTEGER)], ' ')) AS chunk_fp
  FROM c),
occ AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY chunk_fp ORDER BY doc_id, chunk_id) AS occ
  FROM chunks)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       FLOOR((SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS dup_ratio
FROM occ
GROUP BY doc_id
ORDER BY doc_id"""

  val chunkPassagesOracle: String = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents),
c AS (
  SELECT doc_id, w,
         unnest(range(0, CASE WHEN n <= 30 THEN 1
                              ELSE (n - 30 + 19) // 20 + 1 END)) AS chunk_id
  FROM t)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * 20 AS BIGINT) AS start_tok,
       CAST(len(w[CAST(chunk_id * 20 + 1 AS INTEGER) : CAST(chunk_id * 20 + 30 AS INTEGER)]) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(w[CAST(chunk_id * 20 + 1 AS INTEGER) : CAST(chunk_id * 20 + 30 AS INTEGER)], ' ')) AS chunk_fp
FROM c
ORDER BY doc_id, chunk_id"""

  /** Per-source document-length profile — the distribution check run
   *  before setting chunking windows and shard budgets (a source whose
   *  p90 collapsed between snapshots is truncating; one whose p50 is
   *  near zero is scraping fragments). Percentiles are the
   *  deterministic nearest-rank pick (index `floor(q*(n-1)) + 1` in
   *  (n_tok, doc_id) order — the [[graft.analytics.Diagnostics]]
   *  median idiom, never percentile_approx), so the output is
   *  engine-exact. One rank window partitioned by source, one
   *  map-side-combining rollup. */
  /** Token-mass-by-LENGTH histogram — the budgeting view next to
   *  [[lengthQuantiles]]' percentiles: per floor(log2(tokens)) bucket,
   *  document count and token mass with shares of both totals. This is
   *  the table sequence packing reads (where does the MASS live — a
   *  corpus whose tokens sit in the 2^10 bucket packs 4k contexts with
   *  minimal padding; heavy 2^13+ mass means chunk-then-pack), and the
   *  short-doc buckets price what a min-length quality rule would
   *  discard. Same integer log2-via-`bin` discipline as
   *  [[graft.pipeline.Dedup.gramDfSpectrum]]; one doc-cardinality
   *  partial agg to ~log2(max_tokens) rows + a broadcast totals join. */
  def lengthHistogram(docs: DataFrame): DataFrame = {
    val buckets = docs
      .select((length(expr("bin((n_chars + 3) div 4)")) - 1).cast("long")
        .as("len_bucket"),
        expr("(n_chars + 3) div 4").as("tok"))
      .groupBy("len_bucket")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
    val totals = buckets.agg(sum("n_docs").as("docs_total"),
      sum("tokens").as("tok_total"))
    buckets.crossJoin(broadcast(totals))
      .select(col("len_bucket"), col("n_docs"), col("tokens"),
        r4(col("n_docs") * lit(1.0) / col("docs_total")).as("doc_share"),
        r4(col("tokens") * lit(1.0) / col("tok_total")).as("token_share"))
      .orderBy("len_bucket")
  }

  val lengthHistogramOracle: String = """
WITH b AS (
  SELECT CAST(len(bin((n_chars + 3) // 4)) - 1 AS BIGINT) AS len_bucket,
         (n_chars + 3) // 4 AS tok
  FROM documents),
buckets AS (
  SELECT len_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tok) AS BIGINT) AS tokens
  FROM b GROUP BY len_bucket),
totals AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS docs_total,
         CAST(SUM(tokens) AS BIGINT) AS tok_total
  FROM buckets)
SELECT bu.len_bucket, bu.n_docs, bu.tokens,
       FLOOR((bu.n_docs * 1.0 / t.docs_total) * 10000.0 + 0.5) / 10000.0 AS doc_share,
       FLOOR((bu.tokens * 1.0 / t.tok_total) * 10000.0 + 0.5) / 10000.0 AS token_share
FROM buckets bu CROSS JOIN totals t
ORDER BY bu.len_bucket"""

  /** Per-source document-length profile, nearest-rank quantiles at
   *  `floor(p*(n-1)) + 1`. Histogram-rank discipline (the
   *  [[surprisalBuckets]] shape, SURVEY §4): n_tok is a bounded
   *  integer, so the corpus partial-aggs to a per-(source, n_tok)
   *  histogram, the cumulative window runs over the histogram ONLY
   *  (never one row per document — a handful of giant sources would
   *  otherwise push ~the whole corpus through single-reducer sorts),
   *  and the value at rank r is the histogram row with
   *  `cum_below < r <= cum_le`. */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    val t = docs.select(col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val hist = t.groupBy("source", "n_tok").agg(count(lit(1)).as("cnt"))
    val cum = HistogramRank.cumulate(hist, Seq("source"), "n_tok")
    def at(p: Double) = HistogramRank.at("n_tok", p)
    cum.groupBy("source").agg(
      max("n").as("n_docs"),
      sum(col("n_tok") * col("cnt")).as("total_tokens"),
      min("n_tok").as("min_tokens"),
      at(0.25).as("p25_tokens"),
      at(0.5).as("p50_tokens"),
      at(0.9).as("p90_tokens"),
      max("n_tok").as("max_tokens"))
      .orderBy("source")
  }

  val lengthQuantilesOracle: String = """
WITH t AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
hist AS (
  SELECT source, n_tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM t GROUP BY source, n_tok),
""" + HistogramRank.cumCteSql("hist", Seq("source"), "n_tok") + s"""
SELECT source,
       CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok * cnt) AS BIGINT) AS total_tokens,
       MIN(n_tok) AS min_tokens,
       ${HistogramRank.pickSql("n_tok", 0.25, "p25_tokens")},
       ${HistogramRank.pickSql("n_tok", 0.5, "p50_tokens")},
       ${HistogramRank.pickSql("n_tok", 0.9, "p90_tokens")},
       MAX(n_tok) AS max_tokens
FROM cum
GROUP BY source
ORDER BY source"""

  /** Global top-k vocabulary: term frequency + document frequency for
   *  the k most frequent terms — the corpus profile a tokenizer
   *  training / coverage check starts from. Shape at scale: one
   *  explode into a two-level partial aggregation (count + distinct
   *  doc_id both combine map-side), then a driver-bounded
   *  TakeOrdered(k) — the ONLY single-point step touches k rows, never
   *  the vocabulary. Ties rank alphabetically so the cut is
   *  deterministic. */
  /** Heaps-law vocabulary growth curve: per ingestion decile (doc_id
   *  order, the same bucketing rule as
   *  [[graft.pipeline.Dedup.dedupCurve]]), the token mass, the count
   *  of NEVER-SEEN-BEFORE terms (first occurrence lands in the decile
   *  of its earliest doc), and the cumulative vocabulary — the "is new
   *  data still contributing new language" complement to dedupCurve's
   *  "is new data still contributing new documents". A flattening
   *  `cum_vocab` against a linear `cum_tokens` is Heaps saturation:
   *  more of the same source stops growing the vocabulary long before
   *  it stops growing the token count. Ratio-only output — the Heaps
   *  exponent itself needs `log`, which is libm-defined, so the curve
   *  publishes exact integer masses and one rounded division instead.
   *  Scale shape: one explode → term-keyed partial-agg MIN (vocab
   *  cardinality, the only real shuffle), one per-doc token agg to
   *  decile cardinality; cumulative windows run over the 10-row
   *  bucket aggregate only. */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val maxId = docs.agg(max("doc_id").as("max_id"))
    val toks = docs.crossJoin(broadcast(maxId))
      .select(expr(s"doc_id * $buckets div (max_id + 1)").as("bucket"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("bucket").agg(sum("n_tok").as("n_tokens"))
    val newTerms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(min("doc_id").as("first_id"))
      .crossJoin(broadcast(maxId))
      .select(expr(s"first_id * $buckets div (max_id + 1)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(newTerms, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_terms"))
      .withColumn("cum_tokens", sum("n_tokens").over(cum))
      .withColumn("cum_vocab", sum("new_terms").over(cum))
      .select(col("bucket"), col("n_tokens"), col("new_terms"),
        col("cum_tokens"), col("cum_vocab"),
        r4(col("cum_vocab") * lit(1.0) / col("cum_tokens"))
          .as("vocab_token_ratio"))
      .orderBy("bucket")
  }

  val vocabGrowthOracle: String = """
WITH m AS (SELECT MAX(doc_id) AS max_id FROM documents),
toks AS (
  SELECT (doc_id * 10) // (max_id + 1) AS bucket,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents CROSS JOIN m),
tb AS (
  SELECT bucket, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM toks GROUP BY bucket),
f AS (
  SELECT term, MIN(doc_id) AS first_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
  GROUP BY term),
nt AS (
  SELECT (first_id * 10) // (max_id + 1) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS new_terms
  FROM f CROSS JOIN m GROUP BY bucket),
j AS (
  SELECT tb.bucket, tb.n_tokens, COALESCE(nt.new_terms, 0) AS new_terms
  FROM tb LEFT JOIN nt ON tb.bucket = nt.bucket),
c AS (
  SELECT bucket, n_tokens, new_terms,
         CAST(SUM(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
         CAST(SUM(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
  FROM j)
SELECT CAST(bucket AS BIGINT) AS bucket, n_tokens, new_terms, cum_tokens, cum_vocab,
       FLOOR((cum_vocab * 1.0 / cum_tokens) * 10000.0 + 0.5) / 10000.0 AS vocab_token_ratio
FROM c ORDER BY bucket"""

  def vocabTopk(docs: DataFrame, k: Int = 100): DataFrame = {
    val stats = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(
        count(lit(1)).as("term_count"),
        countDistinct("doc_id").as("doc_freq"))
      .orderBy(col("term_count").desc, col("term"))
      .limit(k)
    stats.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("term_count").desc, col("term"))).cast("long"))
      .select(col("rank"), col("term"), col("term_count"), col("doc_freq"))
      .orderBy("rank")
  }

  val vocabTopkOracle: String = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
s AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS term_count,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM toks GROUP BY term),
r AS (
  SELECT term, term_count, doc_freq,
         ROW_NUMBER() OVER (ORDER BY term_count DESC, term) AS rank
  FROM s)
SELECT CAST(rank AS BIGINT) AS rank, term, term_count, doc_freq
FROM r WHERE rank <= 100
ORDER BY rank"""

  /** Zipf rank-frequency profile at power-of-two ranks: for each rank
   *  r in {1, 2, 4, ..., maxRank}, the term, its global frequency, the
   *  frequency at rank 2r, and the `doubling_ratio` f(r)/f(2r). Under
   *  a Zipf law with exponent s the ratio is 2^s at EVERY r, so a flat
   *  ratio column reads as "Zipfian with slope log2(ratio)" and a
   *  drifting one localizes where the distribution bends (head
   *  boilerplate, truncated tail) — the standard corpus-naturalness
   *  diagnostic, published in linear space because a log-log OLS fit
   *  would put libm `log`/`ln` inside an aggregation, which the
   *  cross-engine exactness discipline forbids (see [[vocabGrowth]]);
   *  the ratio is integer-derived with ONE rounded division per row.
   *  Scale shape: the term-keyed partial agg is the only real shuffle
   *  (vocab cardinality); orderBy+limit is a driver-bounded
   *  TakeOrdered(2*maxRank); the rank window and the r->2r self-join
   *  run over those <=2*maxRank rows only. Ties rank alphabetically,
   *  same determinism rule as [[vocabTopk]]. */
  def zipfPoints(docs: DataFrame, maxRank: Int = 256): DataFrame = {
    val ranked = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("term_count"))
      .orderBy(col("term_count").desc, col("term"))
      .limit(2 * maxRank)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("term_count").desc, col("term"))).cast("long"))
    ranked
      .filter((col("rank").bitwiseAND(col("rank") - 1) === 0) &&
        col("rank") <= maxRank)
      .join(ranked.select(col("rank").as("rank_2r"),
        col("term_count").as("count_2r")),
        col("rank_2r") === col("rank") * 2)
      .select(col("rank"), col("term"), col("term_count").as("count_r"),
        col("count_2r"),
        r4(col("term_count") * lit(1.0) / col("count_2r")).as("doubling_ratio"))
      .orderBy("rank")
  }

  val zipfPointsOracle: String = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
s AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS term_count
  FROM toks GROUP BY term),
r AS (
  SELECT term, term_count,
         ROW_NUMBER() OVER (ORDER BY term_count DESC, term) AS rank
  FROM s),
p AS (
  SELECT rank, term, term_count FROM r
  WHERE rank <= 256 AND (rank & (rank - 1)) = 0)
SELECT CAST(p.rank AS BIGINT) AS rank, p.term,
       p.term_count AS count_r, q.term_count AS count_2r,
       FLOOR((p.term_count * 1.0 / q.term_count) * 10000.0 + 0.5) / 10000.0 AS doubling_ratio
FROM p JOIN r q ON q.rank = 2 * p.rank
ORDER BY p.rank"""

  /** Default cutoffs for [[vocabCoverageCurve]] — shared with the
   *  oracle builder so the two sides cannot drift. */
  val defaultCoverageKs: Seq[Int] = Seq(100, 1000, 10000)

  /** Vocabulary coverage curve — the tokenizer-budget sizing table
   *  between [[oovRate]]'s per-doc drilldown (fixed k) and
   *  [[zipfPoints]]' shape diagnostic: for each candidate vocab size
   *  k, what fraction of ALL token occurrences the top-k vocabulary
   *  covers (and the residual OOV mass a k-entry tokenizer pays in
   *  fallback bytes). Vocab ranking reuses [[vocabTopk]]'s
   *  deterministic (count desc, term) tie-break.
   *
   *  Scale shape: the term-keyed partial agg is the only corpus-scale
   *  shuffle (vocab cardinality); the head is a driver-bounded
   *  TakeOrdered(max k); the k-sweep is a broadcast theta-join of the
   *  |ks|-row cutoff frame against that bounded head (k > |vocab|
   *  degrades gracefully to full coverage rather than dropping the
   *  row). All cells integer; fractions are final r4 divisions. */
  def vocabCoverageCurve(docs: DataFrame,
                         ks: Seq[Int] = defaultCoverageKs): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("term_count"))
    val totals = counts.agg(sum("term_count").as("tokens_total"),
      count(lit(1)).as("vocab_total"))
    val head = counts.orderBy(col("term_count").desc, col("term"))
      .limit(ks.max)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("term_count").desc, col("term"))).cast("long"))
    val kdf = ks.map(_.toLong).toDF("k")
    head.join(broadcast(kdf), col("rank") <= col("k"))
      .groupBy("k").agg(sum("term_count").as("tokens_covered"))
      .crossJoin(broadcast(totals))
      .select(col("k"), col("tokens_covered"), col("tokens_total"),
        col("vocab_total"),
        r4(col("tokens_covered") * lit(1.0) / col("tokens_total"))
          .as("coverage_frac"),
        r4(lit(1.0) - col("tokens_covered") * lit(1.0) / col("tokens_total"))
          .as("oov_frac"))
      .orderBy("k")
  }

  /** [[vocabTopkOracle]]'s ranking chain + the same bounded theta-join
   *  sweep, cutoffs generated from the same [[defaultCoverageKs]]. */
  val vocabCoverageCurveOracle: String = {
    val kvals = defaultCoverageKs.map(k => s"($k)").mkString(", ")
    s"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
s AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS term_count
  FROM toks GROUP BY term),
totals AS (
  SELECT CAST(SUM(term_count) AS BIGINT) AS tokens_total,
         CAST(COUNT(*) AS BIGINT) AS vocab_total
  FROM s),
r AS (
  SELECT term, term_count,
         ROW_NUMBER() OVER (ORDER BY term_count DESC, term) AS rank
  FROM s),
head AS (SELECT * FROM r WHERE rank <= ${defaultCoverageKs.max}),
ks(k) AS (VALUES $kvals),
cov AS (
  SELECT ks.k, CAST(SUM(h.term_count) AS BIGINT) AS tokens_covered
  FROM ks JOIN head h ON h.rank <= ks.k
  GROUP BY ks.k)
SELECT CAST(c.k AS BIGINT) AS k, c.tokens_covered, t.tokens_total, t.vocab_total,
       ${graft.util.Round.r4Sql("c.tokens_covered * 1.0 / t.tokens_total")} AS coverage_frac,
       ${graft.util.Round.r4Sql("1.0 - c.tokens_covered * 1.0 / t.tokens_total")} AS oov_frac
FROM cov c CROSS JOIN totals t
ORDER BY k"""
  }

  /** Per-doc out-of-vocabulary rate against the global top-k
   *  vocabulary — the tokenizer-readiness signal (how much of each
   *  doc a k-entry vocab fails to cover) and the per-doc drilldown
   *  [[vocabTopk]] aggregates away. The vocab reuses vocabTopk's
   *  deterministic (count desc, term) tie-break, collapses to ONE
   *  array row, and broadcasts; per-doc counting is then a pure
   *  in-row projection — no token explode, no shuffle keyed on
   *  doc_id, so the corpus-side cost is one scan regardless of
   *  scale. The membership lambda runs interpreted (Spark 4 HOF),
   *  an accepted constant factor; the alternative explode +
   *  broadcast-join + re-group shape shuffles every token row. */
  def oovRate(docs: DataFrame, k: Int = 100): DataFrame =
    oovRateAgainst(docs,
      docs.select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("term_count"))
        .orderBy(col("term_count").desc, col("term"))
        .limit(k)
        .select("term"))

  /** [[oovRate]] against an EXPLICIT vocabulary frame (one `term`
   *  column) instead of the corpus top-k — the wiring that lets a
   *  TRAINED vocabulary drive coverage: pass [[bpeMerges]]' `merged`
   *  symbols (plus whatever base alphabet/word list the tokenizer
   *  ships) and the rate reports how much of the corpus the merge
   *  table already covers as whole words. Same in-row membership
   *  shape: the vocab collapses to one broadcast array row, the
   *  corpus side stays a single scan. */
  def oovRateAgainst(docs: DataFrame, vocabTerms: DataFrame): DataFrame = {
    val vocab = vocabTerms.agg(collect_list("term").as("vocab"))
    docs.crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(expr("filter(split(text, ' '), w -> NOT array_contains(vocab, w))"))
          .cast("long").as("n_oov"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        r4(col("n_oov") * lit(1.0) / col("n_tok")).as("oov_pct"))
      .orderBy("doc_id")
  }

  /** The BPE merge primitive — global adjacent-character-pair
   *  frequencies within words, the count a tokenizer trainer's first
   *  merge iteration argmaxes over (and the third leg of the
   *  tokenizer-readiness family: [[vocabTopk]] = word vocab,
   *  [[oovRate]] = vocab coverage, this = subword statistics).
   *  Occurrence-weighted (every word instance counts, as textbook BPE
   *  does) plus the distinct-word support behind each pair. Shape:
   *  two in-row explodes (word, then position — `sequence(1, len-1)`
   *  guarded to len >= 2 because Spark 4's sequence counts DOWN when
   *  the bound inverts) feed ONE map-side-combining aggregate keyed
   *  on ~alphabet² distinct pairs, then a driver-bounded top-k; the
   *  explode fan-out is corpus CHARACTER count, never materialized
   *  past the partial agg. `substring(word, i, 2)` is 1-indexed
   *  identically in both engines, so the oracle is a verbatim
   *  mirror. */
  def bpePairStats(docs: DataFrame, k: Int = 50): DataFrame = {
    val pairs = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(col("word"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"), col("word"))
    val stats = pairs.groupBy("pair").agg(
      count(lit(1)).as("pair_count"),
      countDistinct("word").as("distinct_words"))
    stats.orderBy(col("pair_count").desc, col("pair")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pair_count").desc, col("pair"))).cast("long"))
      .select(col("rank"), col("pair"), col("pair_count"), col("distinct_words"))
      .orderBy("rank")
  }

  /** ITERATED BPE merge training — [[bpePairStats]] computes the
   *  count the FIRST merge argmaxes over; this runs the actual
   *  trainer loop for `rounds` merges and emits the merge table a
   *  tokenizer would ship: (round, lhs, rhs, merged, pair_count).
   *
   *  Shape (the `knn_pagerank` driver-bounded unroll discipline):
   *  the corpus collapses ONCE to the distinct-word table with
   *  occurrence counts — the only corpus-scale pass; every round
   *  then runs over that vocabulary-sized frame (exactly how
   *  production BPE trainers iterate: merge stats over word TYPES
   *  weighted by frequency, Sennrich et al. 2016). Per round: one
   *  map-side-combining pair aggregation, a 1-row argmax collect
   *  (count desc, lhs, rhs — deterministic), one merge projection,
   *  `localCheckpoint` to keep the plan flat across rounds.
   *
   *  Merge application is exact and engine-mirrorable: a word's
   *  symbol sequence is kept as a DOUBLE-separator string (with S
   *  = U+0001: `SS a SS b SS`), so replacing `S lhs SS rhs S` with
   *  `S lhs+rhs S` performs the textbook greedy left-to-right
   *  non-overlapping
   *  merge — each match keeps one outer separator on each side, so
   *  back-to-back occurrences both merge, overlapping ones don't,
   *  and a pair spanning a symbol boundary can never match. Both
   *  engines' `replace` scan identically, so the DuckDB oracle is a
   *  verbatim chain of the same expressions. */
  def bpeMerges(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, rounds)._2
      .toDF("round", "lhs", "rhs", "merged", "pair_count")
      .orderBy("round")
  }

  /** The trainer core behind [[bpeMerges]]/[[bpeEncode]]: returns the
   *  final word-symbol table (word, sym_str, cnt — sym_str in the
   *  double-separator representation after every merge applied) and
   *  the merge trace. */
  private def bpeTrain(docs: DataFrame, rounds: Int)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) = {
    val sep2 = BpeSep + BpeSep
    var words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"),
        concat(lit(sep2),
          array_join(expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
            sep2),
          lit(sep2)).as("sym_str"),
        col("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val best = words
        .select(col("cnt"),
          // lambda-free: removing '' equals the x != '' filter
          array_remove(split(col("sym_str"), sep2), "").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(syms[i - 1] AS lhs, syms[i] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cnt").as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, l, rr, l + rr, c))
        words = words
          .select(col("word"),
            replace(col("sym_str"),
              lit(BpeSep + l + sep2 + rr + BpeSep),
              lit(BpeSep + l + rr + BpeSep)).as("sym_str"),
            col("cnt"))
          .localCheckpoint()
      }
    }
    (words, merges.result())
  }

  /** APPLY the trained merge table — the tokenizer-family closer
   *  (train with [[bpeMerges]], measure with this): per-doc BPE
   *  token count and chars-per-token compression under the
   *  `rounds`-merge vocabulary. The trainer's final word-symbol
   *  table is already the encoder (one row per distinct word with
   *  its merged symbol sequence), so encoding is a vocab-sized
   *  broadcast join against the exploded corpus + one per-doc
   *  partial agg — the corpus is never re-segmented. Compression is
   *  the only double, r4'd in the final projection. */
  def bpeEncode(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val sep2 = BpeSep + BpeSep
    val words = bpeTrain(docs, rounds)._1
    val syms = words.select(col("word"),
      size(array_remove(split(col("sym_str"), sep2), ""))
        .cast("long").as("n_syms"))
    docs.select(col("doc_id"), col("n_chars"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(broadcast(syms), "word")
      .groupBy("doc_id", "n_chars")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        r4(col("n_chars") * lit(1.0) / col("n_bpe_tokens")).as("chars_per_token"))
      .orderBy("doc_id")
  }

  private val BpeSep = "\u0001"

  /** The identical trainer loop as an unrolled CTE chain: round r's
   *  `w{r}` word table feeds `p{r}` pair counts, `b{r}` is the 1-row
   *  argmax under the same (count DESC, lhs, rhs) order, and
   *  `w{r+1}` applies the same double-separator `replace`. Built
   *  programmatically so the Spark `rounds` and the oracle depth can
   *  never drift. */
  lazy val bpeMergesOracle: String =
    bpeChainCte + "\n" + (1 to BpeRounds)
      .map(r => s"SELECT round, lhs, rhs, merged, pair_count FROM b$r")
      .mkString("", "\nUNION ALL ", "") + "\nORDER BY round"

  private val BpeRounds = 8

  /** The shared trainer chain: w1..w{N+1} word-symbol tables (word
   *  identity carried through so the encode oracle can join back),
   *  p{r} pair counts, b{r} argmaxes. A missing b{r} (pairs ran dry)
   *  makes the LEFT JOIN in w{r+1} pass sym_str through unchanged. */
  private lazy val bpeChainCte: String = {
    val sep = "chr(1)"
    val sep2 = s"($sep || $sep)"
    val cte = new StringBuilder
    cte.append(s"""WITH w1 AS (
  SELECT word,
         $sep2 || array_to_string(
           list_transform(generate_series(1, len(word)),
                          i -> substring(word, CAST(i AS INTEGER), 1)),
           $sep2) || $sep2 AS sym_str,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) >= 1
  GROUP BY word)""")
    for (r <- 1 to BpeRounds) {
      cte.append(s""",
p$r AS (
  SELECT syms[CAST(i AS INTEGER)] AS lhs, syms[CAST(i AS INTEGER) + 1] AS rhs,
         CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT list_filter(string_split(sym_str, $sep2), x -> x <> '') AS syms,
               cnt
        FROM w$r) t,
       unnest(generate_series(1, len(syms) - 1)) AS g(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2),
b$r AS (
  SELECT CAST($r AS BIGINT) AS round, lhs, rhs, lhs || rhs AS merged, pair_count
  FROM p$r ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
w${r + 1} AS (
  SELECT w.word,
         CASE WHEN b.lhs IS NULL THEN w.sym_str
              ELSE replace(w.sym_str, $sep || b.lhs || $sep2 || b.rhs || $sep,
                           $sep || b.merged || $sep) END AS sym_str,
         w.cnt
  FROM w$r w LEFT JOIN b$r b ON TRUE)""")
    }
    cte.toString
  }

  /** [[bpeEncode]]'s mirror: the same chain to w{N+1}, then the
   *  distinct-word symbol counts join back to the exploded corpus
   *  and roll up per doc. */
  lazy val bpeEncodeOracle: String = {
    val sep = "chr(1)"
    val sep2 = s"($sep || $sep)"
    bpeChainCte + s""",
wsyms AS (
  SELECT word,
         CAST(len(list_filter(string_split(sym_str, $sep2), x -> x <> ''))
           AS BIGINT) AS n_syms
  FROM w${BpeRounds + 1}),
toks AS (
  SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS word
  FROM documents),
enc AS (
  SELECT t.doc_id, t.n_chars,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(w.n_syms) AS BIGINT) AS n_bpe_tokens
  FROM toks t JOIN wsyms w ON t.word = w.word
  WHERE len(t.word) >= 1
  GROUP BY t.doc_id, t.n_chars)
SELECT doc_id, n_words, n_bpe_tokens,
       FLOOR((n_chars * 1.0 / n_bpe_tokens) * 10000.0 + 0.5) / 10000.0
         AS chars_per_token
FROM enc
ORDER BY doc_id"""
  }

  /** Verbatim mirror: same explode chain via unnest(generate_series),
   *  same (count DESC, pair) tie-break. */
  val bpePairStatsOracle: String = """
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
w2 AS (SELECT word FROM words WHERE len(word) >= 2),
pairs AS (
  SELECT word, substring(word, CAST(i AS INTEGER), 2) AS pair
  FROM w2, unnest(generate_series(1, len(word) - 1)) AS t(i)),
s AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS pair_count,
         CAST(COUNT(DISTINCT word) AS BIGINT) AS distinct_words
  FROM pairs GROUP BY pair),
r AS (
  SELECT pair, pair_count, distinct_words,
         ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rank
  FROM s)
SELECT CAST(rank AS BIGINT) AS rank, pair, pair_count, distinct_words
FROM r WHERE rank <= 50
ORDER BY rank"""

  /** Same top-100 vocab under the same tie-break; the per-doc count
   *  goes through an explicit token LEFT JOIN (exact integers either
   *  way). */
  val oovRateOracle: String = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
s AS (SELECT term, COUNT(*) AS term_count FROM toks GROUP BY term),
r AS (
  SELECT term, ROW_NUMBER() OVER (ORDER BY term_count DESC, term) AS rank
  FROM s),
v AS (SELECT term FROM r WHERE rank <= 100),
t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
o AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM t LEFT JOIN v ON t.term = v.term GROUP BY t.doc_id)
SELECT doc_id, n_tok, n_oov,
       FLOOR(n_oov * 1.0 / n_tok * 10000.0 + 0.5) / 10000.0 AS oov_pct
FROM o ORDER BY doc_id"""

  /** BM25-shaped retrieval scoring over the corpus for a fixed term
   *  set — the "find training docs about X" primitive (targeted
   *  curation, query-set decontamination, eval-neighborhood
   *  inspection). Two determinism-driven departures from textbook
   *  BM25, both documented because they're load-bearing: (1) idf is
   *  the LOG-FREE ratio `(N - df + 0.5) / (df + 0.5)` — libm `log` is
   *  not bit-specified across engines, and for a fixed query the
   *  ranking it induces is close in practice while the arithmetic is
   *  exactly mirrorable; (2) per-term scores live in SEPARATE columns
   *  summed in one fixed left-associated expression — never a SQL
   *  `SUM()` over term rows, whose accumulation order is unspecified.
   *  tf comes from a per-row `filter()` count, so scoring is a pure
   *  projection: one corpus scan + a broadcast one-row stats frame +
   *  a distributed TakeOrdered(k). */
  def bm25Search(docs: DataFrame,
                 terms: Seq[String] = Seq("spark", "data", "join"),
                 k1: Double = 1.2, b: Double = 0.75, k: Int = 50): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9]+")),
      "terms must be simple alphanumeric tokens")
    val base = terms.zipWithIndex.foldLeft(
      docs.select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))) {
      // Deliberately the filter-HOF spelling: the lambda-free
      // `n_tok - size(array_remove(split, t))` variant measured 1.2x
      // at sf1 (reps=5; array_remove allocates a full array copy per
      // term per row, costlier than the interpreted per-token
      // predicate here) — measured and rejected, r17.
      case (df, (t, i)) => df.withColumn(s"tf$i",
        size(expr(s"filter(split(text, ' '), w -> w = '$t')")).cast("long"))
    }.drop("text")
    val statCols = Seq(count(lit(1)).as("n_docs"),
      sum("n_tok").as("tok_sum")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val perTerm = terms.indices.map { i =>
      val idf = (col("n_docs") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5))
      idf * (col(s"tf$i") * lit(k1 + 1.0)) /
        (col(s"tf$i") + lit(k1) * (lit(1.0 - b)
          + lit(b) * col("n_tok") * col("n_docs") / col("tok_sum")))
    }
    val scored = base.crossJoin(broadcast(stats))
      .filter(terms.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0L)
      .select(col("doc_id"), r4(perTerm.reduce(_ + _)).as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy("rank")
  }

  /** Default-parameter mirror (terms spark/data/join, k1=1.2, b=0.75):
   *  same log-free idf, same fixed-order three-column sum. */
  val bm25SearchOracle: String = """
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_filter(string_split(text, ' '), w -> w = 'spark')) AS BIGINT) AS tf0,
         CAST(len(list_filter(string_split(text, ' '), w -> w = 'data')) AS BIGINT) AS tf1,
         CAST(len(list_filter(string_split(text, ' '), w -> w = 'join')) AS BIGINT) AS tf2
  FROM documents),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM base),
scored AS (
  SELECT b.doc_id,
         FLOOR((
           ((s.n_docs - s.df0 + 0.5) / (s.df0 + 0.5)) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.n_tok * s.n_docs / s.tok_sum))
           + ((s.n_docs - s.df1 + 0.5) / (s.df1 + 0.5)) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.n_tok * s.n_docs / s.tok_sum))
           + ((s.n_docs - s.df2 + 0.5) / (s.df2 + 0.5)) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.n_tok * s.n_docs / s.tok_sum))
         ) * 10000.0 + 0.5) / 10000.0 AS score
  FROM base b CROSS JOIN stats s
  WHERE b.tf0 + b.tf1 + b.tf2 > 0),
r AS (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored)
SELECT CAST(rank AS BIGINT) AS rank, doc_id, score
FROM r WHERE rank <= 50
ORDER BY rank"""

  /** Rule-based filter ledger (the Gopher/Dolma-style counterpart to
   *  the continuous [[qualityScore]]): five boolean cleaning rules,
   *  each reported with the doc count and token mass it would remove,
   *  plus the `any` union row — the table a curation review reads to
   *  see what each rule COSTS before switching it on. Every threshold
   *  is evaluated in cross-multiplied INTEGER form (`punct * 50 >
   *  n_chars` instead of `punct/n_chars > 0.02`), so there is no
   *  float comparison anywhere and the SQL mirror is trivially exact.
   *  Shape: one map-side-combining aggregate over a pure projection;
   *  the 6-row unpivot happens on the one-row aggregate. Token
   *  counts reuse [[textStats]]' conventions (whitespace tokens,
   *  ceil-div-4 BPE estimate, the shared stopword/punct expressions
   *  of [[qualityCol]]). */
  /** The per-doc rule-flag frame (f_short/f_long_word/f_symbol/
   *  f_stop_low/f_repeat + bpe) — ONE definition of the rule
   *  predicates, shared by [[qualityRules]] (the per-rule ledger) and
   *  [[ruleOverlapMatrix]] (the pairwise-redundancy audit). */
  private def ruleFlags(docs: DataFrame): DataFrame =
    docs.select(
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"),
      (size(split(col("text"), " ")) -
        size(array_remove(array_remove(split(col("text"), " "), "the"), "a")))
        .cast("long").as("stop_tok"),
      size(expr("regexp_extract_all(text, '[.,!?;:]', 0)")).cast("long")
        .as("punct"),
      col("n_chars"),
      expr("(n_chars + 3) div 4").as("bpe"))
      .select(
        (col("n_tok") < 30L).cast("long").as("f_short"),
        ((col("n_chars") - (col("n_tok") - 1L)) > col("n_tok") * 6L)
          .cast("long").as("f_long_word"),
        (col("punct") * 50L > col("n_chars")).cast("long").as("f_symbol"),
        (col("stop_tok") * 50L < col("n_tok")).cast("long").as("f_stop_low"),
        (col("n_distinct") * 10L < col("n_tok") * 3L).cast("long").as("f_repeat"),
        col("bpe"))

  /** DuckDB twin of [[ruleFlags]] (the c/f CTE pair) — the one SQL
   *  spelling of the rule predicates. */
  private val ruleFlagsCte: String = """c AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS BIGINT) AS stop_tok,
         CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT) AS punct,
         n_chars, (n_chars + 3) // 4 AS bpe
  FROM documents),
f AS (
  SELECT bpe,
         CASE WHEN n_tok < 30 THEN 1 ELSE 0 END AS f_short,
         CASE WHEN (n_chars - (n_tok - 1)) > n_tok * 6 THEN 1 ELSE 0 END AS f_long_word,
         CASE WHEN punct * 50 > n_chars THEN 1 ELSE 0 END AS f_symbol,
         CASE WHEN stop_tok * 50 < n_tok THEN 1 ELSE 0 END AS f_stop_low,
         CASE WHEN n_distinct * 10 < n_tok * 3 THEN 1 ELSE 0 END AS f_repeat
  FROM c)"""

  def qualityRules(docs: DataFrame): DataFrame = {
    val flags = ruleFlags(docs)
      .withColumn("f_any",
        (col("f_short") + col("f_long_word") + col("f_symbol")
          + col("f_stop_low") + col("f_repeat") > 0L).cast("long"))
    val rules = Seq("any", "long_word", "repeat", "short", "stop_low", "symbol")
    val aggCols = Seq(
      count(lit(1)).as("total_docs"), sum("bpe").as("total_tokens")) ++
      rules.flatMap(r => Seq(
        sum(col(s"f_$r")).as(s"d_$r"),
        sum(col(s"f_$r") * col("bpe")).as(s"t_$r")))
    val agg = flags.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = rules
      .map(r => s"'$r', d_$r, t_$r").mkString(", ")
    agg.select(col("total_docs"), col("total_tokens"),
        expr(s"stack(${rules.length}, $stackArgs) AS (rule, docs_flagged, tokens_flagged)"))
      .select(col("rule"), col("docs_flagged"), col("tokens_flagged"),
        r4(col("docs_flagged") * lit(1.0) / col("total_docs")).as("doc_share"),
        r4(col("tokens_flagged") * lit(1.0) / col("total_tokens")).as("token_share"))
      .orderBy("rule")
  }

  val qualityRulesOracle: String = "WITH " + ruleFlagsCte + """,
g AS (
  SELECT *, CASE WHEN f_short + f_long_word + f_symbol + f_stop_low + f_repeat > 0
                 THEN 1 ELSE 0 END AS f_any
  FROM f),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
         CAST(SUM(bpe) AS BIGINT) AS total_tokens,
         CAST(SUM(f_any) AS BIGINT) AS d_any, CAST(SUM(f_any * bpe) AS BIGINT) AS t_any,
         CAST(SUM(f_long_word) AS BIGINT) AS d_long_word, CAST(SUM(f_long_word * bpe) AS BIGINT) AS t_long_word,
         CAST(SUM(f_repeat) AS BIGINT) AS d_repeat, CAST(SUM(f_repeat * bpe) AS BIGINT) AS t_repeat,
         CAST(SUM(f_short) AS BIGINT) AS d_short, CAST(SUM(f_short * bpe) AS BIGINT) AS t_short,
         CAST(SUM(f_stop_low) AS BIGINT) AS d_stop_low, CAST(SUM(f_stop_low * bpe) AS BIGINT) AS t_stop_low,
         CAST(SUM(f_symbol) AS BIGINT) AS d_symbol, CAST(SUM(f_symbol * bpe) AS BIGINT) AS t_symbol
  FROM g),
u AS (
  SELECT 'any' AS rule, d_any AS docs_flagged, t_any AS tokens_flagged, total_docs, total_tokens FROM a
  UNION ALL SELECT 'long_word', d_long_word, t_long_word, total_docs, total_tokens FROM a
  UNION ALL SELECT 'repeat', d_repeat, t_repeat, total_docs, total_tokens FROM a
  UNION ALL SELECT 'short', d_short, t_short, total_docs, total_tokens FROM a
  UNION ALL SELECT 'stop_low', d_stop_low, t_stop_low, total_docs, total_tokens FROM a
  UNION ALL SELECT 'symbol', d_symbol, t_symbol, total_docs, total_tokens FROM a)
SELECT rule, docs_flagged, tokens_flagged,
       FLOOR((docs_flagged * 1.0 / total_docs) * 10000.0 + 0.5) / 10000.0 AS doc_share,
       FLOOR((tokens_flagged * 1.0 / total_tokens) * 10000.0 + 0.5) / 10000.0 AS token_share
FROM u
ORDER BY rule"""

  /** Pairwise rule-overlap matrix — [[signalCorrelations]]'s
   *  redundancy question asked at the DECISION level: two rules whose
   *  flag sets near-coincide (Jaccard → 1) gate the same documents,
   *  and the cheaper predicate wins; a pair at Jaccard ≈ 0 is
   *  independent coverage worth keeping ([[qualityRules]] reports
   *  each rule's mass in isolation — this reports what dropping one
   *  rule would actually lose). One ROW of moment sums (each flag
   *  count + each pairwise AND count accumulate as exact integer
   *  sums in a single map-side-combining aggregation over
   *  [[ruleFlags]] — the one predicate definition), unpivoted to the
   *  10 rule pairs; Jaccard = both/(a+b−both), 0.0 when the union is
   *  empty. */
  def ruleOverlapMatrix(docs: DataFrame): DataFrame = {
    val rules = Seq("long_word", "repeat", "short", "stop_low", "symbol")
    val pairs = for (i <- rules.indices; j <- rules.indices if i < j)
      yield (rules(i), rules(j))
    val aggCols = rules.map(r => sum(col(s"f_$r")).as(s"d_$r")) ++
      pairs.map { case (a, b) =>
        sum(col(s"f_$a") * col(s"f_$b")).as(s"p_${a}__$b") }
    val agg = ruleFlags(docs).agg(aggCols.head, aggCols.tail: _*)
    val rows = pairs.map { case (a, b) =>
      val union = col(s"d_$a") + col(s"d_$b") - col(s"p_${a}__$b")
      agg.select(
        lit(a).as("rule_a"), lit(b).as("rule_b"),
        col(s"d_$a").as("n_a"), col(s"d_$b").as("n_b"),
        col(s"p_${a}__$b").as("n_both"),
        when(union === 0L, lit(0.0))
          .otherwise(r4(col(s"p_${a}__$b") * lit(1.0) / union)).as("jaccard"))
    }
    rows.reduce(_.unionByName(_)).orderBy("rule_a", "rule_b")
  }

  /** Rides [[ruleFlagsCte]] — the one SQL predicate spelling. */
  lazy val ruleOverlapMatrixOracle: String = {
    val rules = Seq("long_word", "repeat", "short", "stop_low", "symbol")
    val pairs = for (i <- rules.indices; j <- rules.indices if i < j)
      yield (rules(i), rules(j))
    val sums = (rules.map(r => s"CAST(SUM(f_$r) AS BIGINT) AS d_$r") ++
      pairs.map { case (a, b) =>
        s"CAST(SUM(f_$a * f_$b) AS BIGINT) AS p_${a}__$b" })
      .mkString(",\n         ")
    val rows = pairs.map { case (a, b) =>
      s"""
SELECT '$a' AS rule_a, '$b' AS rule_b, d_$a AS n_a, d_$b AS n_b,
       p_${a}__$b AS n_both,
       CASE WHEN d_$a + d_$b - p_${a}__$b = 0 THEN 0.0
            ELSE FLOOR((p_${a}__$b * 1.0 / (d_$a + d_$b - p_${a}__$b))
                       * 10000.0 + 0.5) / 10000.0 END AS jaccard
FROM a"""
    }.mkString("\nUNION ALL")
    "WITH " + ruleFlagsCte + s""",
a AS (
  SELECT $sums
  FROM f)$rows
ORDER BY rule_a, rule_b"""
  }

  /** Dup x quality interaction: per 0.05-wide quality bucket (the
   *  [[qualitySweep]] grid — shared expression, no drift), how much of
   *  the bucket is exact-duplicate mass. This is the "dedup before or
   *  after the quality gate?" diagnostic: boilerplate tends to be both
   *  low-quality AND duplicated, and when dup mass concentrates below
   *  the intended cut the gate already removes it, so a pre-gate dedup
   *  pass is wasted compute (and vice versa). Shapes match the
   *  parents: one narrow (hash, id) groupBy + join for first
   *  occurrence, one 20-row bucket aggregate, fractions as single
   *  divisions of exact integer counts. */
  def dupQualityProfile(docs: DataFrame): DataFrame = {
    val h = docs.select(col("doc_id"), md5(col("text")).as("ch"),
      qualityCol.as("quality"))
    val first = h.groupBy("ch").agg(min("doc_id").as("first_id"))
    h.join(first, "ch")
      .select(floor(col("quality") * 20).cast("long").as("bucket"),
        (col("doc_id") > col("first_id")).cast("long").as("is_dup"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"))
      .select(col("bucket"),
        r4(col("bucket") / lit(20.0)).as("threshold"),
        col("n_docs"), col("n_dups"),
        r4(col("n_dups") * lit(1.0) / col("n_docs")).as("dup_frac"))
      .orderBy("bucket")
  }

  val dupQualityProfileOracle: String = s"""
WITH h AS (
  SELECT doc_id, md5(text) AS ch, $qualitySqlExpr AS quality
  FROM documents),
f AS (SELECT ch, MIN(doc_id) AS first_id FROM h GROUP BY ch),
b AS (
  SELECT CAST(FLOOR(h.quality * 20) AS BIGINT) AS bucket,
         CASE WHEN h.doc_id > f.first_id THEN 1 ELSE 0 END AS is_dup
  FROM h JOIN f ON h.ch = f.ch),
agg AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(is_dup) AS BIGINT) AS n_dups
  FROM b GROUP BY bucket)
SELECT bucket,
       FLOOR((bucket / 20.0) * 10000.0 + 0.5) / 10000.0 AS threshold,
       n_docs, n_dups,
       FLOOR((n_dups * 1.0 / n_docs) * 10000.0 + 0.5) / 10000.0 AS dup_frac
FROM agg ORDER BY bucket"""

  /** Top-k bigram collocations ranked by pointwise lift
   *  `(c_xy/B) / ((c_x/T)(c_y/T))` — the PMI signal (PMI = log2(lift),
   *  and log is monotone, so ranking by lift IS ranking by PMI without
   *  betting hash-equality on cross-engine libm `log`). Counts come
   *  from the codegen'd multiplicity-preserving
   *  [[graft.functions.WordNGramsAll]] (`word_ngrams_all`) — the
   *  distinct-shingle kernel would bias every count. Shape at scale:
   *  two explode→partial-agg sweeps (bigram + unigram counts), then
   *  everything downstream — vocab-sized frames — joins under
   *  broadcast; the corpus is never shuffled, and the top-k cut is a
   *  distributed TakeOrdered. Lift is computed over exact integer
   *  counts in ONE fixed double-expression shape (IEEE ops are
   *  bit-specified, so the oracle mirror is exact), rounded, and
   *  ranked on the rounded value with alphabetical tie-break. */
  def pmiTerms(docs: DataFrame, minCount: Long = 5, k: Int = 50): DataFrame = {
    val uni = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val t = uni.agg(sum("c").as("t"))
    val bc = docs
      .select(explode(
        call_function("word_ngrams_all", col("text"), lit(2))).as("gram"))
      .select(split(col("gram"), " ").getItem(0).as("w1"),
        split(col("gram"), " ").getItem(1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val b = bc.agg(sum("c_xy").as("b"))
    val lifted = bc.filter(col("c_xy") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(t)).crossJoin(broadcast(b))
      .select(col("w1"), col("w2"), col("c_xy"),
        r4((col("c_xy") * lit(1.0) / col("b")) /
          ((col("c1") * lit(1.0) / col("t"))
            * (col("c2") * lit(1.0) / col("t")))).as("lift"))
    lifted.orderBy(col("lift").desc, col("w1"), col("w2")).limit(k)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("lift").desc, col("w1"), col("w2"))).cast("long"))
      .select(col("rank"), col("w1"), col("w2"), col("c_xy"), col("lift"))
      .orderBy("rank")
  }

  val pmiTermsOracle: String = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
nums AS (SELECT unnest(range(1, 4001)) AS i),
toked AS (SELECT string_split(text, ' ') AS tk FROM documents),
big AS (SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM toked, nums
        WHERE i + 1 <= len(tk)),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
       FROM big GROUP BY w1, w2),
btot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS b FROM bc),
lifted AS (
  SELECT w1, w2, c_xy,
         FLOOR(((c_xy * 1.0 / b) / ((u1.c * 1.0 / t) * (u2.c * 1.0 / t)))
               * 10000.0 + 0.5) / 10000.0 AS lift
  FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w
  CROSS JOIN tot CROSS JOIN btot
  WHERE c_xy >= 5),
r AS (SELECT w1, w2, c_xy, lift,
        ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS rank
      FROM lifted)
SELECT CAST(rank AS BIGINT) AS rank, w1, w2, c_xy, lift
FROM r WHERE rank <= 50
ORDER BY rank"""

  val repetitionScoreOracle: String = "WITH " + Dedup.shinglesCte.trim + """,
g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS distinct_grams
      FROM shingle GROUP BY doc_id),
d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
SELECT d.doc_id, d.n_tokens,
       COALESCE(g.distinct_grams, 0) AS distinct_grams,
       GREATEST(d.n_tokens - 2, 0) AS total_grams,
       CASE WHEN d.n_tokens - 2 > 0 THEN
         FLOOR((1.0 - COALESCE(g.distinct_grams, 0) * 1.0 / (d.n_tokens - 2)) * 10000.0 + 0.5) / 10000.0
       END AS repetition
FROM d LEFT JOIN g ON d.doc_id = g.doc_id
ORDER BY d.doc_id"""

  /** Exact repeated-SPAN accounting — the token-granular form of the
   *  suffix-array substring dedup in Lee et al. 2022 ("Deduplicating
   *  Training Data Makes Language Models Better", arXiv:2107.06499):
   *  a token is "duplicated" when it is covered by any word `k`-gram
   *  whose exact string occurs >= 2 times in the corpus (including
   *  twice within one document — self-repetition is duplication
   *  there too). Unlike the Jaccard/MinHash family this measures
   *  VERBATIM overlap extent per document: merged coverage intervals
   *  give the duplicated-token count, the number of maximal
   *  duplicated spans, and the longest single span — the inputs to a
   *  "drop docs that are >X% verbatim-duplicated / trim spans over L
   *  tokens" policy. The reference's analytics have no equivalent;
   *  behavior-anchored to the paper, not `/root/reference`.
   *
   *  Exactness: duplicated-token coverage is the distinct union of
   *  [pos, pos+k-1] windows, merged by consecutive-integer islands
   *  (pos - row_number), so two overlapping or gap < k spans never
   *  double-count — all integers, cross-engine exact.
   *
   *  Scale shape: one in-row explode to gram occurrences (positions
   *  via `word_ngrams_all`, multiplicity preserved), one partial-agg
   *  count per gram (the only corpus-wide shuffle, map-side
   *  combined), a k-bounded in-row coverage explode on the
   *  DUPLICATED positions only (at 100 TB the duplicated subset is
   *  the small side), and doc-partitioned windows. Text never passes
   *  an exchange after the explode; no joins beyond the gram-count
   *  lookup. */
  /** C4-style exact THREE-SENTENCE-span dedup — the boundary-aligned
   *  classic next to [[spanDedup]]'s token-k-gram accounting (C4
   *  removed every repeated three-sentence span from the corpus;
   *  sentence alignment is what makes the rule cheap and readable):
   *  per doc, sliding windows of `win` consecutive sentences (split
   *  on '. '), each hashed whole; a span is REPEATED when its hash
   *  occurs anywhere else in the corpus, DROPPED when this occurrence
   *  is not the global first (min (doc_id, idx) — the deterministic
   *  keep-first rule the dedup family ships). Shape: sentence explode
   *  + a LEAD window partitioned per doc (nothing corpus-wide), one
   *  span-hash-keyed count/first aggregate — the only corpus-
   *  cardinality shuffle carries 16-byte hashes, never text. */
  def sentenceDedup(docs: DataFrame, win: Int = 3): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("idx")
    val sents = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(split(col("text"), "\\. "))
        .as(Seq("idx", "sent")))
    val leads = (1 until win).map(j => lead(col("sent"), j).over(w))
    val spans = sents
      .withColumn("span",
        concat_ws(BpeSep, (col("sent") +: leads): _*))
      .withColumn("last_ok", leads.last.isNotNull)
      .filter(col("last_ok"))
      .select(col("doc_id"), col("idx"),
        md5(col("span")).as("span_hash"))
    val occ = spans.groupBy("span_hash")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("idx"))).as("first"))
    val flagged = spans.join(occ, "span_hash")
      .select(col("doc_id"),
        (col("n_occ") > 1L).cast("long").as("is_repeated"),
        (col("n_occ") > 1L && !(col("first.doc_id") === col("doc_id")
          && col("first.idx") === col("idx"))).cast("long").as("is_dropped"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum("is_repeated").as("n_repeated_spans"),
        sum("is_dropped").as("n_dropped_spans"))
    docs.select("doc_id").join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_repeated_spans"), lit(0L)).as("n_repeated_spans"),
        coalesce(col("n_dropped_spans"), lit(0L)).as("n_dropped_spans"),
        r4(coalesce(col("n_repeated_spans"), lit(0L)) * lit(1.0)
          / greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)))
          .as("repeated_frac"))
      .orderBy("doc_id")
  }

  /** Sentence split + LEAD windows + the same keep-first rule; the
   *  span string joins with chr(1) (BpeSep discipline) so sentence
   *  boundaries can't be forged by content. */
  val sentenceDedupOracle: String = """
WITH sents AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx, parts[i] AS sent
  FROM (SELECT doc_id, string_split(text, '. ') AS parts
        FROM documents WHERE text IS NOT NULL) t,
       unnest(range(1, len(parts) + 1)) AS g(i)),
spans AS (
  SELECT doc_id, idx,
         md5(sent || chr(1) || LEAD(sent, 1) OVER w || chr(1)
             || LEAD(sent, 2) OVER w) AS span_hash,
         LEAD(sent, 2) OVER w AS s2
  FROM sents
  WINDOW w AS (PARTITION BY doc_id ORDER BY idx)),
valid AS (SELECT doc_id, idx, span_hash FROM spans WHERE s2 IS NOT NULL),
occ AS (
  SELECT span_hash, CAST(COUNT(*) AS BIGINT) AS n_occ,
         MIN({'doc_id': doc_id, 'idx': idx}) AS first
  FROM valid GROUP BY span_hash),
flagged AS (
  SELECT v.doc_id,
         CASE WHEN o.n_occ > 1 THEN 1 ELSE 0 END AS is_repeated,
         CASE WHEN o.n_occ > 1 AND NOT (o.first.doc_id = v.doc_id
              AND o.first.idx = v.idx) THEN 1 ELSE 0 END AS is_dropped
  FROM valid v JOIN occ o ON v.span_hash = o.span_hash),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(is_repeated) AS BIGINT) AS n_repeated_spans,
         CAST(SUM(is_dropped) AS BIGINT) AS n_dropped_spans
  FROM flagged GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.n_repeated_spans, 0) AS n_repeated_spans,
       COALESCE(a.n_dropped_spans, 0) AS n_dropped_spans,
       FLOOR((COALESCE(a.n_repeated_spans, 0) * 1.0
              / GREATEST(COALESCE(a.n_spans, 0), 1)) * 10000.0 + 0.5) / 10000.0 AS repeated_frac
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id"""

  def spanDedup(docs: DataFrame, k: Int = 5): DataFrame = {
    val (base, spans) = spanFrames(docs, k)
    spanOutput(base, spans)
  }

  /** Incremental [[spanDedup]] — span-account a NEW batch against an
   *  already-ingested corpus without re-shingling corpus text: the
   *  batch's grams look their corpus-wide occurrence counts up in the
   *  corpus state `corpusGramCounts` ([[spanGramCounts]] `(gram, cnt)`
   *  rows, append-only deltas folded by SUM at read — the
   *  gram-df-store discipline the streaming dedup family uses) and add
   *  their own batch deltas, so per-call cost tracks the BATCH, not
   *  the corpus. Bit-identical to the full run restricted to batch
   *  docs: a batch doc's span stats depend only on the total counts of
   *  its own grams. (The usual count-maintained asymmetry applies: a
   *  new batch can raise an OLD doc's counts — old docs' stats refresh
   *  on the next full run, batch docs' never change retroactively.) */
  def spanDedupIncremental(corpusGramCounts: DataFrame, batch: DataFrame,
                           k: Int = 5): DataFrame = {
    val (base, grams) = spanGrams(batch, k)
    // A batch doc's verdicts consult counts ONLY at the batch's own
    // grams, so the store fold is restricted to them BEFORE the SUM:
    // the delta store is scanned + broadcast-filtered, never exchanged
    // at state-vocabulary cardinality (the CDC/exact-gate shape — the
    // unrestricted gram-keyed fold was this trigger's 2.3x-per-4x-state
    // term in the sf10 probe). Identical results: corpusCnt enters
    // through a left join keyed on batch grams.
    val batchGramKeys = grams.select("gram").distinct()
    val corpusCnt = corpusGramCounts
      .join(broadcast(batchGramKeys), Seq("gram"), "left_semi")
      .groupBy("gram").agg(sum("cnt").as("c_corpus"))
    val batchCnt = grams.groupBy("gram").agg(count(lit(1)).as("c_batch"))
    val total = batchCnt.join(corpusCnt, Seq("gram"), "left")
      .select(col("gram"),
        (col("c_batch") + coalesce(col("c_corpus"), lit(0L))).as("c"))
    val dupPos = grams.join(total.filter(col("c") >= 2), "gram")
      .select(col("doc_id"), col("pos"))
    spanOutput(base, spansFromDupPos(dupPos, k))
  }

  /** The maintained store [[spanDedupIncremental]] folds: per-gram
   *  occurrence-count deltas `(gram, cnt)` for a doc frame — append
   *  one per ingested batch. */
  def spanGramCounts(docs: DataFrame, k: Int = 5): DataFrame =
    spanGrams(docs, k)._2.groupBy("gram").agg(count(lit(1)).as("cnt"))

  /** Shared [[spanDedup]]/[[spanDedupIncremental]] output tail. */
  private def spanOutput(base: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy("doc_id").agg(
      count(lit(1)).as("dup_spans"),
      sum("span_len").as("dup_tokens"),
      max("span_len").as("max_span_tokens"))
    base.select("doc_id", "n_tokens")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
        r4(coalesce(col("dup_tokens"), lit(0L)) * lit(1.0) / col("n_tokens"))
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** The shared [[spanDedup]]/[[spanTrim]] machinery: `base(doc_id,
   *  n_tokens)` plus the maximal-duplicated-span frame `spans(doc_id,
   *  grp, span_len)` — duplicated k-gram positions expanded to token
   *  coverage, distinct-unioned, merged by consecutive-integer
   *  islands. */
  private def spanFrames(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val (base, grams) = spanGrams(docs, k)
    val cnt = grams.groupBy("gram").agg(count(lit(1)).as("c"))
    val dupPos = grams.join(cnt.filter(col("c") >= 2), "gram")
      .select(col("doc_id"), col("pos"))
    (base, spansFromDupPos(dupPos, k))
  }

  /** `base(doc_id, n_tokens)` + positioned gram occurrences
   *  `grams(doc_id, n_tokens, pos, gram)` — the in-row explode every
   *  span-family member starts from. */
  private def spanGrams(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val base = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      expr(s"word_ngrams_all(text, $k)").as("gs"))
    val grams = base
      .select(col("doc_id"), col("n_tokens"),
        posexplode(col("gs")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("long").as("pos"), col("gram"))
    (base.select("doc_id", "n_tokens"), grams)
  }

  /** Duplicated gram positions → maximal merged spans: k-wide token
   *  coverage, distinct union, consecutive-integer islands. */
  private def spansFromDupPos(dupPos: DataFrame, k: Int): DataFrame =
    dupPos
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1L))).as("ti"))
      .distinct()
      .withColumn("grp", col("ti") -
        row_number().over(Window.partitionBy("doc_id").orderBy("ti")))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("span_len"))

  /** The toks→spans CTE chain [[spanDedupOracle]] and
   *  [[spanTrimOracle]] share — the SQL mirror of [[spanFrames]]. */
  private val spanCtePrefix: String = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM toks),
g AS (
  SELECT doc_id, CAST(unnest(range(0, GREATEST(len(t) - 4, 0))) AS BIGINT) AS pos, t
  FROM base),
grams AS (
  SELECT doc_id, pos,
         t[pos + 1] || ' ' || t[pos + 2] || ' ' || t[pos + 3] || ' ' ||
         t[pos + 4] || ' ' || t[pos + 5] AS gram
  FROM g),
cnt AS (SELECT gram, COUNT(*) AS c FROM grams GROUP BY gram),
dup AS (
  SELECT grams.doc_id, grams.pos
  FROM grams JOIN cnt ON grams.gram = cnt.gram WHERE cnt.c >= 2),
cov AS (
  SELECT DISTINCT doc_id, CAST(unnest(range(pos, pos + 5)) AS BIGINT) AS ti
  FROM dup),
isl AS (
  SELECT doc_id, ti,
         ti - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ti) AS grp
  FROM cov),
spans AS (
  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS span_len
  FROM isl GROUP BY doc_id, grp)"""

  val spanDedupOracle: String = spanCtePrefix + """,
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
         CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
         CAST(MAX(span_len) AS BIGINT) AS max_span_tokens
  FROM spans GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       COALESCE(per.dup_spans, 0) AS dup_spans,
       COALESCE(per.dup_tokens, 0) AS dup_tokens,
       COALESCE(per.max_span_tokens, 0) AS max_span_tokens,
       FLOOR((COALESCE(per.dup_tokens, 0) * 1.0 / b.n_tokens) * 10000.0 + 0.5)
         / 10000.0 AS dup_ratio
FROM base b LEFT JOIN per ON b.doc_id = per.doc_id
ORDER BY b.doc_id"""

  /** The FULL-run chain restricted to the batch (doc_id >= 400) —
   *  the incremental path must hash-match it exactly. */
  val spanDedupIncrementalOracle: String = spanCtePrefix + """,
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
         CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
         CAST(MAX(span_len) AS BIGINT) AS max_span_tokens
  FROM spans GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       COALESCE(per.dup_spans, 0) AS dup_spans,
       COALESCE(per.dup_tokens, 0) AS dup_tokens,
       COALESCE(per.max_span_tokens, 0) AS max_span_tokens,
       FLOOR((COALESCE(per.dup_tokens, 0) * 1.0 / b.n_tokens) * 10000.0 + 0.5)
         / 10000.0 AS dup_ratio
FROM base b LEFT JOIN per ON b.doc_id = per.doc_id
WHERE b.doc_id >= 400
ORDER BY b.doc_id"""

  /** The policy half of [[spanDedup]] — apply the Lee et al. 2022
   *  trim rule (arXiv:2107.06499 removes every duplicated substring
   *  over a length cutoff; short incidental repeats stay): trim each
   *  maximal duplicated span of `minTrim`+ tokens and account for
   *  what survives. Per doc: spans trimmed, tokens removed, tokens
   *  kept, and the kept ratio — the writer-side ledger a
   *  span-trimming curation pass emits. Same shape as [[spanDedup]]
   *  (shares [[spanFrames]]); the policy filter runs on the k-bounded
   *  spans frame, so the cutoff is a tuning knob, not a recompute. */
  def spanTrim(docs: DataFrame, k: Int = 5, minTrim: Int = 8): DataFrame = {
    val (base, spans) = spanFrames(docs, k)
    val trimmed = spans.filter(col("span_len") >= minTrim)
      .groupBy("doc_id").agg(
        count(lit(1)).as("trimmed_spans"),
        sum("span_len").as("trimmed_tokens"))
    base.select("doc_id", "n_tokens")
      .join(trimmed, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("trimmed_spans"), lit(0L)).as("trimmed_spans"),
        coalesce(col("trimmed_tokens"), lit(0L)).as("trimmed_tokens"),
        (col("n_tokens") - coalesce(col("trimmed_tokens"), lit(0L)))
          .as("kept_tokens"),
        r4((col("n_tokens") - coalesce(col("trimmed_tokens"), lit(0L)))
          * lit(1.0) / col("n_tokens")).as("kept_ratio"))
      .orderBy("doc_id")
  }

  val spanTrimOracle: String = spanCtePrefix + """,
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS trimmed_spans,
         CAST(SUM(span_len) AS BIGINT) AS trimmed_tokens
  FROM spans WHERE span_len >= 8 GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       COALESCE(per.trimmed_spans, 0) AS trimmed_spans,
       COALESCE(per.trimmed_tokens, 0) AS trimmed_tokens,
       b.n_tokens - COALESCE(per.trimmed_tokens, 0) AS kept_tokens,
       FLOOR(((b.n_tokens - COALESCE(per.trimmed_tokens, 0)) * 1.0 / b.n_tokens)
         * 10000.0 + 0.5) / 10000.0 AS kept_ratio
FROM base b LEFT JOIN per ON b.doc_id = per.doc_id
ORDER BY b.doc_id"""

  /** Quantized bigram-LM surprisal — the CCNet-style language-model
   *  quality filter (Wenzek et al. 2020, arXiv:1911.00359: score docs
   *  by LM perplexity, keep the middle of the distribution) made
   *  cross-engine EXACT: a float -log2 p(w2|w1) under the corpus
   *  bigram MLE would drift between Spark's and DuckDB's libm, so
   *  each bigram occurrence scores the INTEGER bucket
   *  floor(log2(c1(head) / c2(bigram))) — its surprisal in whole
   *  bits — computed as `length(bin(c1 div c2)) - 1`, pure integer
   *  arithmetic in both engines (floor(log2 x) = floor(log2 floor x)
   *  for x >= 1, and c1 >= c2 always since every bigram occurrence
   *  contains its head). High mean surprisal = improbable token
   *  transitions (gibberish, OCR noise, wrong-language spans); zero =
   *  fully templated text whose every transition is deterministic.
   *
   *  Scale shape: two partial-agg counts (unigram, bigram — the only
   *  corpus-wide shuffles), then per-occurrence lookups via two
   *  broadcast-able-at-vocab-scale joins and one doc-partitioned
   *  aggregation. The head token is recovered from the bigram string
   *  (substring before the space), not a positional self-join. */
  def lmSurprisal(docs: DataFrame): DataFrame =
    surprisalPerDoc(docs)
      .select(
        col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
        r4(when(col("n_bigrams") > 0,
          col("surprisal_bits") * lit(1.0) / col("n_bigrams"))
          .otherwise(lit(0.0))).as("avg_surprisal"))
      .orderBy("doc_id")

  /** Every doc's `(n_bigrams, surprisal_bits)` under the corpus
   *  bigram MLE — the shared core of [[lmSurprisal]] and
   *  [[surprisalBuckets]]; zero-coalesced so bigram-less docs stay. */
  private def surprisalPerDoc(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val c1 = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val bigrams = docs.select(col("doc_id"),
      explode(expr("word_ngrams_all(text, 2)")).as("gram"))
      .withColumn("head", element_at(split(col("gram"), " "), 1))
    val c2 = bigrams.groupBy("gram").agg(count(lit(1)).as("c2"))
    val scored = bigrams
      .join(c2, "gram")
      .join(c1.withColumnRenamed("tok", "head"), "head")
      .select(col("doc_id"),
        (length(bin(expr("c1 div c2"))) - 1).cast("long").as("bucket"))
    val perDoc = scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      sum("bucket").as("surprisal_bits"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"))
  }

  /** The toks→per bigram-MLE CTE chain [[lmSurprisalOracle]] and
   *  [[surprisalBucketsOracle]] share — the SQL mirror of
   *  [[surprisalPerDoc]]'s aggregation half. */
  private val lmCtePrefix: String = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
uni AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
g AS (
  SELECT doc_id, CAST(unnest(range(0, GREATEST(len(t) - 1, 0))) AS BIGINT) AS pos, t
  FROM toks),
bigrams AS (
  SELECT doc_id, t[pos + 1] || ' ' || t[pos + 2] AS gram, t[pos + 1] AS head
  FROM g),
bc AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c2 FROM bigrams GROUP BY gram),
scored AS (
  SELECT b.doc_id, CAST(len(bin(uni.c1 // bc.c2)) - 1 AS BIGINT) AS bucket
  FROM bigrams b JOIN bc ON b.gram = bc.gram JOIN uni ON b.head = uni.tok),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(bucket) AS BIGINT) AS surprisal_bits
  FROM scored GROUP BY doc_id)"""

  val lmSurprisalOracle: String = lmCtePrefix + """
SELECT d.doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       COALESCE(per.surprisal_bits, 0) AS surprisal_bits,
       CASE WHEN COALESCE(per.n_bigrams, 0) > 0 THEN
         FLOOR((per.surprisal_bits * 1.0 / per.n_bigrams) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS avg_surprisal
FROM (SELECT doc_id FROM documents) d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id"""

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
   *  arXiv:1911.00359 shard each language by LM perplexity into
   *  head/middle/tail thirds; training mixes then upsample the head):
   *  per (lang, bucket) document counts, token mass, and the
   *  surprisal range, from [[surprisalPerDoc]]'s integer frame.
   *
   *  Exact AND scale-safe tertiles without a corpus-wide rank: each
   *  doc quantizes to `avg_milli = (surprisal_bits * 1000) div
   *  n_bigrams` (an integer in ~[0, 20000]), the corpus partial-aggs
   *  to a per-(lang, avg_milli) HISTOGRAM, and the tertile rule
   *  `bucket = (docs_strictly_below * 3) div n_lang` runs as a
   *  cumulative window over that bounded histogram — never over
   *  documents. Ties (same avg_milli) share a bucket by
   *  construction, so the result is order-independent; the histogram
   *  join back to docs is broadcast-able at any corpus size. (CCNet's
   *  own cutoffs are also precomputed on a histogram, not a sort.) */
  def surprisalBuckets(docs: DataFrame): DataFrame = {
    val per = surprisalPerDoc(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("avg_milli",
        when(col("n_bigrams") > 0,
          expr("(surprisal_bits * 1000) div n_bigrams")).otherwise(lit(0L)))
    val hist = per.groupBy("lang", "avg_milli").agg(
      count(lit(1)).as("n_docs_v"),
      sum("n_bigrams").as("bg_v"),
      sum("surprisal_bits").as("bits_v"))
    val nLang = hist.groupBy("lang").agg(sum("n_docs_v").as("n_lang"))
    val cum = hist
      .withColumn("cum_le", sum("n_docs_v")
        .over(Window.partitionBy("lang").orderBy("avg_milli")))
      .join(nLang, "lang")
      .withColumn("bucket", expr("((cum_le - n_docs_v) * 3) div n_lang"))
    cum.groupBy("lang", "bucket").agg(
      sum("n_docs_v").as("n_docs"),
      sum("bg_v").as("total_bigrams"),
      sum("bits_v").as("total_bits"),
      min("avg_milli").as("min_avg_milli"),
      max("avg_milli").as("max_avg_milli"))
      .orderBy("lang", "bucket")
  }

  val surprisalBucketsOracle: String = lmCtePrefix + """,
perl AS (
  SELECT d.doc_id, d.lang,
         COALESCE(per.n_bigrams, 0) AS n_bigrams,
         COALESCE(per.surprisal_bits, 0) AS surprisal_bits
  FROM (SELECT doc_id, lang FROM documents) d
  LEFT JOIN per ON d.doc_id = per.doc_id),
av AS (
  SELECT lang, n_bigrams, surprisal_bits,
         CASE WHEN n_bigrams > 0
           THEN (surprisal_bits * 1000) // n_bigrams ELSE 0 END AS avg_milli
  FROM perl),
hist AS (
  SELECT lang, avg_milli, CAST(COUNT(*) AS BIGINT) AS n_docs_v,
         CAST(SUM(n_bigrams) AS BIGINT) AS bg_v,
         CAST(SUM(surprisal_bits) AS BIGINT) AS bits_v
  FROM av GROUP BY lang, avg_milli),
nl AS (SELECT lang, CAST(SUM(n_docs_v) AS BIGINT) AS n_lang FROM hist GROUP BY lang),
cum AS (
  SELECT h.lang, h.avg_milli, h.n_docs_v, h.bg_v, h.bits_v, nl.n_lang,
         SUM(h.n_docs_v) OVER (PARTITION BY h.lang ORDER BY h.avg_milli) AS cum_le
  FROM hist h JOIN nl ON h.lang = nl.lang),
bk AS (
  SELECT lang, ((cum_le - n_docs_v) * 3) // n_lang AS bucket,
         n_docs_v, bg_v, bits_v, avg_milli
  FROM cum)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(n_docs_v) AS BIGINT) AS n_docs,
       CAST(SUM(bg_v) AS BIGINT) AS total_bigrams,
       CAST(SUM(bits_v) AS BIGINT) AS total_bits,
       CAST(MIN(avg_milli) AS BIGINT) AS min_avg_milli,
       CAST(MAX(avg_milli) AS BIGINT) AS max_avg_milli
FROM bk GROUP BY lang, bucket
ORDER BY lang, bucket"""

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
   *  for Language Models via Importance Resampling", arXiv:2302.03169):
   *  score every document by the log-likelihood ratio
   *  log p_target(x) / log p_raw(x) under bag-of-words unigram models
   *  of a TARGET domain (here: the `lang = 'en'` slice — the
   *  high-resource domain a curation run upsamples toward) vs the RAW
   *  corpus; resampling by these weights shifts the kept distribution
   *  toward the target. Made cross-engine EXACT the same way as
   *  [[lmSurprisal]]: each token occurrence contributes
   *  `bits_raw - bits_target` where
   *  `bits_d = floor(log2(T_d div (c_d + 1)))` — the add-one-smoothed
   *  surprisal of the token under distribution `d` in whole bits,
   *  computed as `length(bin(T div (c + 1))) - 1`, pure integer
   *  arithmetic in both engines (smoothing makes the target surprisal
   *  finite for tokens the target never saw: c_tgt = 0 gives the
   *  maximal `floor(log2 T_tgt)`). Positive llr = the doc reads more
   *  like the target than like the average of the corpus.
   *
   *  Scale shape: two partial-agg token counts (raw and target — the
   *  only corpus-wide shuffles, target's input is a filtered subset of
   *  the same explode), two scalar totals broadcast as 1-row frames,
   *  vocab-scale count lookups (broadcast-able: vocabulary, not
   *  corpus, cardinality), one doc-partitioned aggregation. No
   *  windows, no self-joins, text never shuffles. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en"): DataFrame =
    dsirPerDoc(docs, targetLang)
      .select(
        col("doc_id"), col("lang"), col("n_tokens"), col("llr_bits"),
        r4(when(col("n_tokens") > 0,
          col("llr_bits") * lit(1.0) / col("n_tokens"))
          .otherwise(lit(0.0))).as("avg_llr"))
      .orderBy("doc_id")

  /** Every doc's `(lang, n_tokens, llr_bits)` under the target-vs-raw
   *  smoothed unigram models — the shared core of [[dsirWeights]] and
   *  [[dsirSelect]]; zero-coalesced so every doc appears. */
  private def dsirPerDoc(docs: DataFrame, targetLang: String): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    val cRaw = toks.groupBy("tok").agg(count(lit(1)).as("c_raw"))
    val cTgt = toks.filter(col("lang") === targetLang)
      .groupBy("tok").agg(count(lit(1)).as("c_tgt"))
    val totals = toks.agg(
      count(lit(1)).as("t_raw"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t_tgt"))
    val scored = toks
      .join(cRaw, "tok")
      .join(cTgt, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        ((length(bin(expr("t_raw div (c_raw + 1)"))) - 1)
          - (length(bin(expr("t_tgt div (coalesce(c_tgt, 0) + 1)"))) - 1))
          .cast("long").as("llr"))
    val perDoc = scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum("llr").as("llr_bits"))
    docs.select("doc_id", "lang")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("llr_bits"), lit(0L)).as("llr_bits"))
  }

  /** DSIR selection (the "resampling" half of Xie et al. 2023 made
   *  deterministic): keep the `keepPct`% of the corpus with the
   *  highest per-token target-vs-raw log-likelihood ratio
   *  ([[dsirWeights]]); report the per-lang composition of the kept
   *  set — how hard DSIR shifts the language mix toward the target.
   *
   *  Exact and scale-safe via the [[surprisalBuckets]] histogram
   *  discipline: docs quantize to an integer key — SHIFTED
   *  nonnegative as `((llr_bits + 63*n_tokens) * 1000) div n_tokens`
   *  (per-token llr is within [-63, 63] because each side's
   *  surprisal is at most 63 bits), so Spark's toward-zero `div` and
   *  DuckDB's floor `//` agree — the corpus partial-aggs to a
   *  per-key histogram, and the cutoff (smallest key whose
   *  strictly-above cumulative count is under the target size) is a
   *  window over that bounded histogram (its unpartitioned WindowExec
   *  runs over histogram rows, same benign shape as vocab_topk). Ties
   *  at the cutoff key keep the WHOLE group — deterministic,
   *  order-independent, over-selects by at most one tie group. */
  def dsirSelect(docs: DataFrame, targetLang: String = "en",
                 keepPct: Int = 25): DataFrame = {
    val per = dsirPerDoc(docs, targetLang)
      .withColumn("key", when(col("n_tokens") > 0,
        expr("((llr_bits + 63 * n_tokens) * 1000) div n_tokens"))
        .otherwise(lit(0L)))
    val hist = per.groupBy("key").agg(count(lit(1)).as("n_v"))
    val n = hist.agg(sum("n_v").as("n"))
    val cutoff = hist.crossJoin(broadcast(n))
      .withColumn("cum_above",
        coalesce(sum("n_v").over(Window.orderBy(col("key").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_above") < expr(s"(n * $keepPct) div 100"))
      .agg(min("key").as("min_key"))
    per.crossJoin(broadcast(cutoff))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("key") >= col("min_key"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_tokens").as("total_tokens"),
        sum(when(col("key") >= col("min_key"), col("n_tokens"))
          .otherwise(0L)).as("kept_tokens"))
      .select(col("lang"), col("n_docs"), col("n_kept"),
        col("total_tokens"), col("kept_tokens"),
        r4(col("n_kept") * lit(1.0) / col("n_docs")).as("kept_frac"))
      .orderBy("lang")
  }

  /** The toks→perd target-vs-raw CTE chain [[dsirWeightsOracle]] and
   *  [[dsirSelectOracle]] share — the SQL mirror of [[dsirPerDoc]]. */
  private val dsirCtePrefix: String = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
craw AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_raw FROM toks GROUP BY tok),
ctgt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_tgt
         FROM toks WHERE lang = 'en' GROUP BY tok),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t_raw,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_tgt
  FROM toks),
scored AS (
  SELECT t.doc_id,
         CAST((len(bin(tot.t_raw // (craw.c_raw + 1))) - 1)
            - (len(bin(tot.t_tgt // (COALESCE(ctgt.c_tgt, 0) + 1))) - 1)
           AS BIGINT) AS llr
  FROM toks t
  JOIN craw ON t.tok = craw.tok
  LEFT JOIN ctgt ON t.tok = ctgt.tok
  CROSS JOIN tot),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(llr) AS BIGINT) AS llr_bits
  FROM scored GROUP BY doc_id),
perd AS (
  SELECT d.doc_id, d.lang,
         COALESCE(per.n_tokens, 0) AS n_tokens,
         COALESCE(per.llr_bits, 0) AS llr_bits
  FROM (SELECT doc_id, lang FROM documents) d
  LEFT JOIN per ON d.doc_id = per.doc_id)"""

  val dsirWeightsOracle: String = dsirCtePrefix + """
SELECT doc_id, lang, n_tokens, llr_bits,
       CASE WHEN n_tokens > 0 THEN
         FLOOR((llr_bits * 1.0 / n_tokens) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS avg_llr
FROM perd
ORDER BY doc_id"""

  val dsirSelectOracle: String = dsirCtePrefix + """,
keyd AS (
  SELECT lang, n_tokens,
         CASE WHEN n_tokens > 0
           THEN ((llr_bits + 63 * n_tokens) * 1000) // n_tokens
           ELSE 0 END AS key
  FROM perd),
hist AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_v FROM keyd GROUP BY key),
nn AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n FROM hist),
cum AS (
  SELECT key, n_v,
         COALESCE(SUM(n_v) OVER (ORDER BY key DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_above
  FROM hist),
cutoff AS (
  SELECT MIN(key) AS min_key FROM cum CROSS JOIN nn
  WHERE cum.cum_above < (nn.n * 25) // 100)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN key >= cutoff.min_key THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN key >= cutoff.min_key THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       FLOOR((SUM(CASE WHEN key >= cutoff.min_key THEN 1 ELSE 0 END) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS kept_frac
FROM keyd CROSS JOIN cutoff
GROUP BY lang
ORDER BY lang"""

  /** Per-doc LANGUAGE PURITY — the mixed-language/code-switch
   *  detector [[langId]]'s argmax throws away: top-2 marker
   *  languages with the winner's share of ALL marker mass as an
   *  exact per-mille integer, plus an `ambiguous` flag when the
   *  runner-up holds ≥ half the winner's score. A doc that is 55%
   *  one language's markers and 45% another's is a translation
   *  artifact / concatenation bug that a clean argmax label hides,
   *  and language-filtered training mixes want it QUARANTINED, not
   *  mislabeled. Same marker mechanism as [[langId]] (token explode
   *  → broadcast marker join → per-doc rollup); the rank window
   *  partitions per doc over ≤|languages| rows. No markers → 'und',
   *  purity 0, not ambiguous. */
  def langPurity(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = Seq(
      ("the", "en", 3L), ("a", "en", 1L),
      ("spark", "tech", 2L), ("data", "tech", 1L),
      ("le", "fr", 3L), ("la", "fr", 1L)).toDF("word", "cand_lang", "weight")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    val scores = toks.join(broadcast(markers), "word")
      .groupBy("doc_id", "cand_lang")
      .agg(sum("weight").as("score"))
    val ranked = scores.withColumn("rk", row_number().over(
      Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand_lang"))))
    val tot = scores.groupBy("doc_id").agg(sum("score").as("total_score"))
    val s1 = ranked.filter(col("rk") === 1)
      .select(col("doc_id"), col("cand_lang").as("lang_guess"),
        col("score").as("score1"))
    val s2 = ranked.filter(col("rk") === 2)
      .select(col("doc_id"), col("cand_lang").as("lang2"),
        col("score").as("score2"))
    docs.select("doc_id")
      .join(s1, Seq("doc_id"), "left")
      .join(s2, Seq("doc_id"), "left")
      .join(tot, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lang_guess"), lit("und")).as("lang_guess"),
        coalesce(col("score1"), lit(0L)).as("score1"),
        coalesce(col("lang2"), lit("none")).as("lang2"),
        coalesce(col("score2"), lit(0L)).as("score2"),
        coalesce(col("total_score"), lit(0L)).as("total_score"),
        expr("CASE WHEN coalesce(total_score, CAST(0 AS BIGINT)) > 0 THEN coalesce(score1, CAST(0 AS BIGINT)) * CAST(1000 AS BIGINT) div total_score ELSE CAST(0 AS BIGINT) END")
          .as("purity_pm"),
        when(coalesce(col("score2"), lit(0L)) * 2 >= coalesce(col("score1"), lit(0L))
          && coalesce(col("score1"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("ambiguous"))
      .orderBy("doc_id")
  }

  /** [[langIdOracle]]'s marker chain with rk ≤ 2 kept and the same
   *  per-mille floor division. */
  val langPurityOracle: String = """
WITH markers(word, cand_lang, weight) AS (
  VALUES ('the', 'en', 3), ('a', 'en', 1),
         ('spark', 'tech', 2), ('data', 'tech', 1),
         ('le', 'fr', 3), ('la', 'fr', 1)),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
scores AS (
  SELECT t.doc_id, m.cand_lang, CAST(SUM(m.weight) AS BIGINT) AS score
  FROM toks t JOIN markers m ON t.word = m.word
  GROUP BY t.doc_id, m.cand_lang),
ranked AS (
  SELECT doc_id, cand_lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rk
  FROM scores),
tot AS (SELECT doc_id, CAST(SUM(score) AS BIGINT) AS total_score
        FROM scores GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(s1.cand_lang, 'und') AS lang_guess,
       CAST(COALESCE(s1.score, 0) AS BIGINT) AS score1,
       COALESCE(s2.cand_lang, 'none') AS lang2,
       CAST(COALESCE(s2.score, 0) AS BIGINT) AS score2,
       CAST(COALESCE(t.total_score, 0) AS BIGINT) AS total_score,
       CAST(CASE WHEN COALESCE(t.total_score, 0) > 0
                 THEN COALESCE(s1.score, 0) * 1000 // t.total_score
                 ELSE 0 END AS BIGINT) AS purity_pm,
       CAST(CASE WHEN COALESCE(s2.score, 0) * 2 >= COALESCE(s1.score, 0)
                  AND COALESCE(s1.score, 0) > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS ambiguous
FROM documents d
LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) s1 ON d.doc_id = s1.doc_id
LEFT JOIN (SELECT * FROM ranked WHERE rk = 2) s2 ON d.doc_id = s2.doc_id
LEFT JOIN tot t ON d.doc_id = t.doc_id
ORDER BY d.doc_id"""

  /** Per-SOURCE n-gram diversity (self-repetition at feed
   *  granularity): type/token ratios for words AND 3-grams — the
   *  distinct-n diversity readout that catches a templated or
   *  bot-generated feed ([[repetitionScore]] is the per-DOC twin;
   *  a source can look clean per-doc while every doc reuses the
   *  same 50 templates, which only the source-level gram TTR sees).
   *  Multiplicity grams come from the codegen'd `word_ngrams_all`
   *  ([[pmiTerms]] precedent). Shape at scale: two explode →
   *  (source, term/gram)-keyed partial aggs (map-side combine; the
   *  only shuffles, at within-source vocab cardinality), then a
   *  source-cardinality rollup; a 100 TB run swaps gram TEXT for
   *  8-byte poly ids in the exchange (the `_fast` family
   *  discipline) at the cost of the bit-exact oracle. All counts
   *  integer; ratios are final-projection r4 divisions. */
  def sourceNgramDiversity(docs: DataFrame, n: Int = 3): DataFrame = {
    val terms = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .groupBy("source").agg(
        count(lit(1)).as("distinct_terms"),
        sum("cnt").as("total_tokens"))
    val grams = docs
      .select(col("source"),
        explode(call_function("word_ngrams_all", col("text"), lit(n)))
          .as("gram"))
      .groupBy("source", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("source").agg(
        count(lit(1)).as("distinct_grams"),
        sum("cnt").as("total_grams"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(terms, Seq("source"), "left")
      .join(grams, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("distinct_terms"), lit(0L)).as("distinct_terms"),
        r4(when(coalesce(col("total_tokens"), lit(0L)) > 0,
          col("distinct_terms") * lit(1.0) / col("total_tokens"))
          .otherwise(lit(0.0))).as("word_ttr"),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("distinct_grams"), lit(0L)).as("distinct_grams"),
        r4(when(coalesce(col("total_grams"), lit(0L)) > 0,
          col("distinct_grams") * lit(1.0) / col("total_grams"))
          .otherwise(lit(0.0))).as("gram_ttr"))
      .orderBy("source")
  }

  /** Words via string_split, multiplicity 3-grams via the indexed
   *  [[pmiTermsOracle]] spelling — both per source. */
  val sourceNgramDiversityOracle: String = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
tstat AS (
  SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS distinct_terms,
         CAST(COUNT(*) AS BIGINT) AS total_tokens
  FROM toks GROUP BY source),
nums AS (SELECT unnest(range(1, 4001)) AS i),
toked AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
grams AS (
  SELECT source, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS gram
  FROM toked, nums WHERE i + 2 <= len(tk)),
gstat AS (
  SELECT source, CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_grams,
         CAST(COUNT(*) AS BIGINT) AS total_grams
  FROM grams GROUP BY source),
nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY source)
SELECT nd.source, nd.n_docs,
       COALESCE(t.total_tokens, 0) AS total_tokens,
       COALESCE(t.distinct_terms, 0) AS distinct_terms,
       CASE WHEN COALESCE(t.total_tokens, 0) > 0
            THEN FLOOR((t.distinct_terms * 1.0 / t.total_tokens) * 10000.0 + 0.5) / 10000.0
            ELSE 0.0 END AS word_ttr,
       COALESCE(g.total_grams, 0) AS total_grams,
       COALESCE(g.distinct_grams, 0) AS distinct_grams,
       CASE WHEN COALESCE(g.total_grams, 0) > 0
            THEN FLOOR((g.distinct_grams * 1.0 / g.total_grams) * 10000.0 + 0.5) / 10000.0
            ELSE 0.0 END AS gram_ttr
FROM nd
LEFT JOIN tstat t ON nd.source = t.source
LEFT JOIN gstat g ON nd.source = g.source
ORDER BY nd.source"""

  /** Per-source divergence from the corpus word distribution —
   *  total-variation distance in exact PER-MILLE integers over the
   *  top-`k` global vocabulary plus an OTHER bucket for the tail:
   *  tv_pm = Σ_w |p_src(w)·1000 - p_corpus(w)·1000| + |other gap|,
   *  each rate quantized by integer division BEFORE the difference
   *  (floor div is identical cross-engine for non-negative operands,
   *  so the whole statistic is integer-exact under any aggregation
   *  order — a float KL/chi² would put libm and float-sum ordering
   *  inside an agg). The DSIR/CCNet-style "which feed looks least
   *  like the corpus I want" triage at feed cardinality.
   *  Shape at scale: one term-keyed partial agg for the global
   *  vocab (vocab cardinality, [[vocabTopk]] precedent), a
   *  broadcast top-k join against the per-source term agg, then a
   *  source-cardinality rollup. */
  def sourceDivergence(docs: DataFrame, k: Int = 64): DataFrame = {
    val toks = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
    val corpus = toks.groupBy("term").agg(count(lit(1)).as("cw"))
    val corpusTotal = corpus.agg(sum("cw").as("t"))
    val top = corpus.orderBy(col("cw").desc, col("term")).limit(k)
      .crossJoin(corpusTotal)
      .select(col("term"), expr("cw * 1000 div t").as("corpus_pm"))
    val srcTotals = toks.groupBy("source").agg(count(lit(1)).as("s"))
    val srcTop = toks.join(broadcast(top.select("term")), "term")
      .groupBy("source", "term").agg(count(lit(1)).as("obs"))
    // per (source, top-term): |obs_pm - corpus_pm|; missing terms
    // contribute the full corpus_pm, which the right-side sum below
    // accounts for without materializing zero rows
    val perTerm = srcTop
      .join(srcTotals, "source")
      .join(broadcast(top), "term")
      .select(col("source"),
        expr("obs * 1000 div s").as("obs_pm"), col("corpus_pm"))
    val present = perTerm.groupBy("source").agg(
      sum(expr("abs(obs_pm - corpus_pm)")).as("tv_present"),
      sum("obs_pm").as("top_obs_pm"),
      sum("corpus_pm").as("top_corpus_pm_present"))
    val topCorpusAll = top.agg(sum("corpus_pm").as("top_corpus_pm_all"))
    srcTotals
      .join(present, Seq("source"), "left")
      .crossJoin(topCorpusAll)
      .select(col("source"), col("s").as("n_tokens"),
        (coalesce(col("tv_present"), lit(0L))
          // top terms absent from the source: |0 - corpus_pm|
          + (col("top_corpus_pm_all")
            - coalesce(col("top_corpus_pm_present"), lit(0L)))
          // OTHER bucket: |(1000 - Σobs_pm) - (1000 - Σcorpus_pm_all)|
          + abs((lit(1000L) - coalesce(col("top_obs_pm"), lit(0L)))
            - (lit(1000L) - col("top_corpus_pm_all")))).as("tv_pm"))
      .orderBy("source")
  }

  lazy val sourceDivergenceOracle: String = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
corpus AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cw FROM toks GROUP BY term),
ctot AS (SELECT CAST(SUM(cw) AS BIGINT) AS t FROM corpus),
top AS (
  SELECT term, cw * 1000 // t AS corpus_pm
  FROM corpus CROSS JOIN ctot
  ORDER BY cw DESC, term LIMIT 64),
stot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS s FROM toks GROUP BY source),
sobs AS (
  SELECT k.source, k.term, CAST(COUNT(*) AS BIGINT) AS obs
  FROM toks k JOIN top ON k.term = top.term
  GROUP BY k.source, k.term),
perterm AS (
  SELECT o.source, o.obs * 1000 // st.s AS obs_pm, top.corpus_pm
  FROM sobs o JOIN stot st ON o.source = st.source
  JOIN top ON o.term = top.term),
present AS (
  SELECT source,
         CAST(SUM(ABS(obs_pm - corpus_pm)) AS BIGINT) AS tv_present,
         CAST(SUM(obs_pm) AS BIGINT) AS top_obs_pm,
         CAST(SUM(corpus_pm) AS BIGINT) AS top_corpus_pm_present
  FROM perterm GROUP BY source),
tall AS (SELECT CAST(SUM(corpus_pm) AS BIGINT) AS top_corpus_pm_all FROM top)
SELECT st.source, st.s AS n_tokens,
       CAST(COALESCE(p.tv_present, 0)
            + (tall.top_corpus_pm_all - COALESCE(p.top_corpus_pm_present, 0))
            + ABS((1000 - COALESCE(p.top_obs_pm, 0))
                  - (1000 - tall.top_corpus_pm_all)) AS BIGINT) AS tv_pm
FROM stot st
LEFT JOIN present p ON st.source = p.source
CROSS JOIN tall
ORDER BY st.source"""

  /** Template/boilerplate detection at FEED granularity: the top-k
   *  most repeated leading-`prefixTokens`-token prefixes per source,
   *  with doc counts and removable token mass. A scraped feed that
   *  stamps every page with the same header shows up as one dominant
   *  prefix here long before any pairwise near-dup pass runs — and
   *  prefix grouping is O(|docs|) where near-dup is O(candidates).
   *
   *  Scale shape: one `groupBy(source, prefix)` over a pure
   *  projection (the prefix string is ≤ prefixTokens words — the
   *  shuffle carries a bounded key, never document text), then a
   *  per-source top-k window over the (sources × distinct prefixes)
   *  aggregate, partitioned by source (no global sort). */
  def templatePrefixes(docs: DataFrame, prefixTokens: Int = 3,
                       topK: Int = 5): DataFrame = {
    val agg = docs
      .filter(col("text").isNotNull)
      .select(col("source"),
        array_join(slice(split(col("text"), " "), 1, prefixTokens), " ")
          .as("prefix"),
        expr("(n_chars + 3) div 4").as("bpe"))
      .groupBy("source", "prefix")
      .agg(count(lit(1)).as("n_docs"), sum("bpe").as("tokens"))
    val bySource = Window.partitionBy("source")
      .orderBy(col("n_docs").desc, col("prefix"))
    agg.withColumn("rank", row_number().over(bySource).cast("long"))
      .filter(col("rank") <= topK)
      .select("source", "rank", "prefix", "n_docs", "tokens")
      .orderBy("source", "rank")
  }

  val templatePrefixesOracle: String = """
WITH agg AS (
  SELECT source,
         array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS prefix,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM((n_chars + 3) // 4) AS BIGINT) AS tokens
  FROM documents WHERE text IS NOT NULL
  GROUP BY source, prefix),
r AS (
  SELECT source, prefix, n_docs, tokens,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY n_docs DESC, prefix) AS BIGINT) AS rank
  FROM agg)
SELECT source, rank, prefix, n_docs, tokens
FROM r WHERE rank <= 5
ORDER BY source, rank"""

  /** Per-source READABILITY profile, Flesch reading-ease shaped — the
   *  curation gauge for "is this feed textbook prose or keyword soup":
   *  sentences approximated as terminal-punctuation runs (`[.!?]+`,
   *  min 1 per doc), syllables as vowel GROUPS per lowercased doc
   *  (`[aeiouy]+` — the standard cheap proxy), words as the corpus'
   *  canonical whitespace tokens ([[textStats]]' definition, no
   *  drift). The Flesch formula (206.835 − 1.015·W/S − 84.6·Syl/W) is
   *  evaluated once per source from EXACT integer sums — not averaged
   *  per doc — so the score is order-independent by construction;
   *  both regexes sit inside the Java∩RE2 subset the pii_scrub
   *  precedent pins for cross-engine parity. ONE map-side-combining
   *  aggregation over a pure row projection: nothing here shuffles
   *  more than (source)-keyed partials at any corpus size. */
  def readability(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("w"),
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
          .as("s"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
          .cast("long").as("syl"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("w").as("n_words"),
        sum("s").as("n_sentences"),
        sum("syl").as("n_syllables"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        r4(col("n_words") * lit(1.0) / col("n_sentences"))
          .as("words_per_sentence"),
        r4(col("n_syllables") * lit(1.0) / col("n_words"))
          .as("syllables_per_word"),
        r4(lit(206.835)
          - lit(1.015) * (col("n_words") * lit(1.0) / col("n_sentences"))
          - lit(84.6) * (col("n_syllables") * lit(1.0) / col("n_words")))
          .as("flesch"))
      .orderBy("source")

  val readabilityOracle: String = """
WITH perdoc AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT) AS syl
  FROM documents WHERE text IS NOT NULL),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS n_words,
         CAST(SUM(s) AS BIGINT) AS n_sentences,
         CAST(SUM(syl) AS BIGINT) AS n_syllables
  FROM perdoc GROUP BY source)
SELECT source, n_docs, n_words, n_sentences, n_syllables,
       FLOOR((n_words * 1.0 / n_sentences) * 10000.0 + 0.5) / 10000.0 AS words_per_sentence,
       FLOOR((n_syllables * 1.0 / n_words) * 10000.0 + 0.5) / 10000.0 AS syllables_per_word,
       FLOOR((206.835 - 1.015 * (n_words * 1.0 / n_sentences)
              - 84.6 * (n_syllables * 1.0 / n_words)) * 10000.0 + 0.5) / 10000.0 AS flesch
FROM agg ORDER BY source"""
}
