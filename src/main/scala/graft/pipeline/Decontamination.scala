package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Round.r4

/**
 * Benchmark decontamination: find training-candidate documents that
 * CONTAIN evaluation-benchmark content — the pre-training hygiene pass
 * that keeps eval sets out of the training corpus. A candidate is
 * flagged against a benchmark doc when the fraction of the BENCHMARK
 * doc's shingles present in the candidate (`inter_n / bench_n`,
 * benchmark-side containment) reaches `minOverlap` — the asymmetric
 * direction matters: a 100-word eval question quoted inside a 10k-word
 * page is contamination at overlap 1.0 even though symmetric Jaccard
 * is ~0.01.
 *
 * Scale shape (the part that must survive 100 TB): eval benchmarks are
 * MBs while the corpus is TBs, so the benchmark shingle frame is
 * BROADCAST — the corpus-side shingle stream joins it map-side with no
 * shuffle of corpus data at all (asserted in PlanAuditSpec), and the
 * per-(candidate, benchmark) counts partial-aggregate. Cost is one
 * pass over corpus shingles, independent of how many candidates match.
 */
object Decontamination {

  /** (doc_id, bench_id, inter_n, bench_n, overlap) for every candidate
   *  x benchmark pair at benchmark-containment >= minOverlap.
   *  `benchShingles` = the benchmark side as state (the
   *  [[Dedup.shingles]] frame of the benchmark documents, or a
   *  [[Dedup.writeShingleStore]] store of it), `docs` = training
   *  candidates (documents-shaped); a doc id appearing on both sides
   *  is not compared with itself. */
  def benchmarkOverlap(benchShingles: DataFrame, docs: DataFrame,
                       minOverlap: Double = 0.3): DataFrame = {
    val shDocs = Dedup.shingles(docs)
    val shBench = benchShingles
      .select(col("doc_id").as("bench_id"), col("gram"))
    val benchSizes = shBench.groupBy("bench_id").agg(count(lit(1)).as("bench_n"))
    shDocs.join(broadcast(shBench), "gram")
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("inter_n"))
      .join(broadcast(benchSizes), "bench_id")
      .filter(col("inter_n") * lit(1.0) / col("bench_n") >= minOverlap)
      .select(col("doc_id"), col("bench_id"), col("inter_n"), col("bench_n"),
        r4(col("inter_n") * lit(1.0) / col("bench_n")).as("overlap"))
      .orderBy("doc_id", "bench_id")
  }

  /** NORMALIZED benchmark decontamination — the near-match gate real
   *  pipelines run (GPT-3/C4 lineage: lowercase, strip punctuation,
   *  squeeze whitespace, THEN n-gram containment), catching the
   *  contamination exact-gram overlap misses when the quoted eval
   *  item was re-cased, re-punctuated, or re-wrapped. Normalization
   *  is the SAME regex chain as [[Dedup.dedupNormalized]] (one
   *  normalization definition across the exact-dedup and
   *  decontamination surfaces), applied to both sides before
   *  shingling; everything downstream is [[benchmarkOverlap]]
   *  verbatim — same broadcast-benchmark shape, no corpus shuffle. */
  def benchmarkOverlapNormalized(docs: DataFrame, bench: DataFrame,
                                 minOverlap: Double = 0.3): DataFrame = {
    def norm(df: DataFrame) = df.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " ")).as("text"))
    benchmarkOverlap(Dedup.shingles(norm(bench)), norm(docs), minOverlap)
  }

  /** [[benchmarkOverlapOracle]] over a normalized-documents CTE (the
   *  [[Dedup.dedupNormalizedOracle]] regex chain, 'g' flags — Spark
   *  regexp_replace is replace-all). */
  val benchmarkOverlapNormalizedOracle: String = "WITH ndocs AS (" +
    """
  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS text FROM documents),
""" + Dedup.shinglesCte.trim.replace("FROM documents", "FROM ndocs") + """,
bsh AS (SELECT doc_id AS bench_id, gram FROM shingle WHERE doc_id % 20 = 0),
bsz AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS bench_n FROM bsh GROUP BY bench_id),
inter AS (
  SELECT s.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle s JOIN bsh b ON s.gram = b.gram AND s.doc_id <> b.bench_id
  WHERE s.doc_id % 20 <> 0
  GROUP BY s.doc_id, b.bench_id)
SELECT i.doc_id, i.bench_id, i.inter_n, z.bench_n,
       FLOOR((i.inter_n * 1.0 / z.bench_n) * 10000.0 + 0.5) / 10000.0 AS overlap
FROM inter i JOIN bsz z ON i.bench_id = z.bench_id
WHERE i.inter_n * 1.0 / z.bench_n >= 0.3
ORDER BY i.doc_id, i.bench_id"""

  /** FUZZY decontamination — the MinHash-LSH-gated near-match pass
   *  (the "fuzzy dedup against eval sets" gate in the Llama/GPT-4
   *  lineage of training-data reports): where [[benchmarkOverlap]]
   *  demands exact shingle containment, this flags a candidate whose
   *  banded MinHash signature COLLIDES with a benchmark doc's in any
   *  band and whose exact symmetric Jaccard then verifies >=
   *  `minJaccard` — catching re-worded near-copies whose containment
   *  falls under the exact gate while keeping the verify
   *  candidate-driven. Signatures are per-document ([[Dedup]]'s 16
   *  affine min-hashes, 4x4 banding), so signing the two frames
   *  separately is bit-identical to signing them together.
   *
   *  Scale shape: the benchmark's band signatures BROADCAST (eval
   *  sets are MBs); the corpus-side band frame is a projection over
   *  one partial-agg signature pass, so candidate generation joins
   *  map-side — the corpus never self-joins and never shuffles for
   *  the collision probe (asserted in PlanAuditSpec). Verification
   *  touches only colliding pairs via the shared exact-Jaccard pass.
   *  Id spaces of `docs` and `bench` must be disjoint (or an id
   *  shared by both frames must denote the same document — it is
   *  excluded as a self-pair, matching [[benchmarkOverlap]]). */
  def contaminationMinhash(docs: DataFrame, bench: DataFrame,
                           minJaccard: Double = 0.2): DataFrame = {
    val docSh = Dedup.shingles(docs.select("doc_id", "text")).cache()
    val benchSh = Dedup.shingles(bench.select("doc_id", "text")).cache()
    val docBands = Dedup.minhashBandSig(
      Dedup.minhashSigWide(Dedup.shingleIds(docSh)))
    val benchBands = Dedup.minhashBandSig(
      Dedup.minhashSigWide(Dedup.shingleIds(benchSh)))
    val cands = docBands
      .select(col("band"), col("bsig"), col("doc_id").as("doc_a"))
      .join(broadcast(benchBands
        .select(col("band"), col("bsig"), col("doc_id").as("doc_b"))),
        Seq("band", "bsig"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    Dedup.withJaccard(cands, docSh.unionByName(benchSh))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("bench_id"),
        r4(col("jaccard")).as("jaccard"))
      .orderBy("doc_id", "bench_id")
  }

  /** Shares [[Dedup.minhashCandsSql]] (signature/band/candidate CTEs)
   *  with the minhash pair oracles — signing all docs together then
   *  keeping cross (candidate, benchmark) collisions is exactly the
   *  split-frame run because signatures are per-document. */
  lazy val contaminationMinhashOracle: String =
    "WITH RECURSIVE " + Dedup.shinglesCte.trim + "," + Dedup.polyShidCte + "," +
      Dedup.minhashCandsSql + """
SELECT CASE WHEN c.doc_a % 20 = 0 THEN c.doc_b ELSE c.doc_a END AS doc_id,
       CASE WHEN c.doc_a % 20 = 0 THEN c.doc_a ELSE c.doc_b END AS bench_id,
       FLOOR((i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM cands c
JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE ((c.doc_a % 20 = 0) <> (c.doc_b % 20 = 0))
  AND i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2
ORDER BY doc_id, bench_id"""

  /** Harness split: benchmark = doc_id % 20 == 0, candidates = the
   *  rest. */
  val benchmarkOverlapOracle: String = "WITH " + Dedup.shinglesCte.trim + """,
bsh AS (SELECT doc_id AS bench_id, gram FROM shingle WHERE doc_id % 20 = 0),
bsz AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS bench_n FROM bsh GROUP BY bench_id),
inter AS (
  SELECT s.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle s JOIN bsh b ON s.gram = b.gram AND s.doc_id <> b.bench_id
  WHERE s.doc_id % 20 <> 0
  GROUP BY s.doc_id, b.bench_id)
SELECT i.doc_id, i.bench_id, i.inter_n, z.bench_n,
       FLOOR((i.inter_n * 1.0 / z.bench_n) * 10000.0 + 0.5) / 10000.0 AS overlap
FROM inter i JOIN bsz z ON i.bench_id = z.bench_id
WHERE i.inter_n * 1.0 / z.bench_n >= 0.3
ORDER BY i.doc_id, i.bench_id"""

  /** Per-SOURCE contamination incidence — the triage table that turns
   *  [[benchmarkOverlap]]'s pair list into an ingest decision: which
   *  FEEDS carry eval leakage, at what doc and token rate (the
   *  [[graft.pipeline.TextAnalysis]] `pii_source_rates` discipline
   *  applied to decontamination). A source at 10× the fleet's flag
   *  rate is usually a scraped eval mirror or a paste site — cheaper
   *  to drop or re-crawl the source than to per-doc-filter it
   *  forever. Rides the exact-containment gate verbatim (same
   *  broadcast-benchmark shape — no new corpus shuffle beyond the one
   *  flagged-id semi-join); per source: docs, flagged docs, token
   *  mass, flagged token mass, and both rates. */
  def contaminationSourceRates(docs: DataFrame, bench: DataFrame,
                               minOverlap: Double = 0.3): DataFrame = {
    val flagged = benchmarkOverlap(Dedup.shingles(bench), docs, minOverlap)
      .select("doc_id").distinct()
      .withColumn("flagged", lit(1L))
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(flagged, Seq("doc_id"), "left")
      .withColumn("flagged", coalesce(col("flagged"), lit(0L)))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("flagged").as("n_flagged"),
        sum("n_tok").as("n_tokens"),
        sum(col("n_tok") * col("flagged")).as("tokens_flagged"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        r4(col("n_flagged") * lit(1.0) / col("n_docs")).as("flagged_rate"),
        col("n_tokens"), col("tokens_flagged"),
        r4(col("tokens_flagged") * lit(1.0) / col("n_tokens"))
          .as("token_rate"))
      .orderBy("source")
  }

  /** [[benchmarkOverlapOracle]]'s bsh/bsz/inter chain, collapsed to
   *  the distinct flagged-id set and rolled up per source. */
  val contaminationSourceRatesOracle: String =
    "WITH " + Dedup.shinglesCte.trim + """,
bsh AS (SELECT doc_id AS bench_id, gram FROM shingle WHERE doc_id % 20 = 0),
bsz AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS bench_n FROM bsh GROUP BY bench_id),
inter AS (
  SELECT s.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle s JOIN bsh b ON s.gram = b.gram AND s.doc_id <> b.bench_id
  WHERE s.doc_id % 20 <> 0
  GROUP BY s.doc_id, b.bench_id),
flagged AS (
  SELECT DISTINCT i.doc_id
  FROM inter i JOIN bsz z ON i.bench_id = z.bench_id
  WHERE i.inter_n * 1.0 / z.bench_n >= 0.3),
cand AS (
  SELECT d.source, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
         CASE WHEN f.doc_id IS NULL THEN 0 ELSE 1 END AS flagged
  FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
  WHERE d.doc_id % 20 <> 0)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(flagged) AS BIGINT) AS n_flagged,
       FLOOR((SUM(flagged) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS flagged_rate,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tok * flagged) AS BIGINT) AS tokens_flagged,
       FLOOR((SUM(n_tok * flagged) * 1.0 / SUM(n_tok)) * 10000.0 + 0.5) / 10000.0 AS token_rate
FROM cand
GROUP BY source
ORDER BY source"""
}
