package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Round.r4

/**
 * Deduplication operators for an LLM training-data pipeline, over the
 * `documents` table.
 *
 * Scale design (the part that must survive 100 TB):
 *  - exact dedup: hash -> groupBy(hash) window, never a self-join on
 *    full text;
 *  - near-dup (MinHash/SimHash/n-gram): candidate pairs come ONLY from
 *    bucket joins (LSH band buckets, rare-gram inverted index, SimHash
 *    nibble bands) — there is no crossJoin anywhere in these plans;
 *  - SimHash banding is *exact* for hamming <= bands-1 (pigeonhole), so
 *    the bucketed plan returns the identical pair set a brute-force
 *    scan would.
 *
 * Cross-engine determinism: shingles get integer ids via a global
 * sorted ROW_NUMBER (mirrored by the DuckDB oracle); hash families are
 * affine maps (a_j*gid + b_j) mod P over those ids — pure integer
 * arithmetic, identical in any engine. At 100 TB the library swaps the
 * md5 digest for a digest-free family (`idFamily = "poly"` — the
 * codegen'd [[graft.functions.PolyHash]], still SQL-reproducible so
 * the oracle verifies signatures bit-for-bit at any scale — or
 * `"xxhash"`, cheapest but oracle-opaque, covered by the in-driver
 * scale-mode specs); the algorithm is otherwise unchanged.
 */
object Dedup {

  val Prime = 1000003L
  /** MinHash family defaults: 16 hashes split 4 bands × 4 rows. These
   *  are DEFAULTS, not constants — every minhash entry point takes
   *  `numHashes`/`bands` arguments (the affine hash family extends to
   *  any width; [[minhashScurve]] renders the banding S-curve for the
   *  configured split, and MinhashSigSpec pins width-32 parity between
   *  the aggregation path and the [[graft.functions.MinhashSig]]
   *  expression), so a deployment at a 0.8-similarity bar buys more
   *  recall with 8×2 or a wider signature without forking. */
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4
  /** SimHash fingerprint width. 32 bits / 4 bands of 8 means 256
   *  bucket values per band — the hamming<=3 pigeonhole exactness is a
   *  property of the BAND COUNT, not the band width, so widening the
   *  bands only sharpens blocking selectivity (a 16-bit/4-value-band
   *  fingerprint saturates: every band bucket holds ~|corpus|/16 docs
   *  and candidate generation degenerates toward all-pairs). */
  val SimBits = 32
  val SimBands = 4
  val SimBandBits = 8
  /** Scale-mode fingerprint width (64-bit, 4 x 16-bit bands). The
   *  32-bit default's 4 x 256-value bands collide linearly with the
   *  corpus: the sf10 probe (bench_sf10_r14) measured the streaming
   *  simhash trigger at 12 -> 66 s quarter -> full against a 480k-doc
   *  store — candidate count is O(state/256) PER BATCH DOC. 16-bit
   *  bands multiply band-key cardinality by 256, and hamming <= 3 on
   *  64 bits is also the semantically sane threshold at corpus scale
   *  (3/32 random collisions pass at ~1.3e-6 per pair — thousands of
   *  false near-dups per 1e12 pairs). No SQL oracle (the xxhash
   *  precedent): spec-covered, ground-truth-equality oracles double as
   *  100%-recall assertions and the hamming ball DIFFERS by design. */
  val SimBitsWide = 64

  /** Exact dedup: first doc_id wins per content hash; emits survivors
   *  with their duplicate count. Partitioned by the hash via the
   *  window shuffle — no text ever compared pairwise. */
  def dedupExact(docs: DataFrame): DataFrame = {
    val h = md5(col("text"))
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    docs.select(col("doc_id"), h.as("content_hash"))
      .withColumn("rk", row_number().over(w))
      .withColumn("dup_count", count(lit(1)).over(Window.partitionBy("content_hash")))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("content_hash"), col("dup_count"))
      .orderBy("doc_id")
  }

  val dedupExactOracle: String = """
WITH h AS (
  SELECT doc_id, md5(text) AS content_hash,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS dup_count
  FROM documents)
SELECT doc_id, content_hash, dup_count
FROM h WHERE rk = 1
ORDER BY doc_id"""

  /** Dedup-saturation curve: bucket ingestion order (`doc_id` id-range
   *  split into `buckets` equal slices) and measure, per slice, the
   *  fraction of docs that exactly duplicate an EARLIER doc — the
   *  "is the crawl still finding new content?" signal that decides
   *  when ingesting more of a source stops paying. Shape: one
   *  groupBy(content_hash) for first-occurrence ids, one hash-join
   *  back (both sides partitioned by the hash — AQE coalesces), a
   *  broadcast one-row max(doc_id), then a `buckets`-row aggregate;
   *  the cumulative window runs over that aggregate only, never the
   *  corpus. Fractions are single divisions of exact integer counts. */
  def dedupCurve(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val h = docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
    val first = h.groupBy("content_hash").agg(min("doc_id").as("first_id"))
    val maxId = docs.agg(max("doc_id").as("max_id"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.join(first, "content_hash")
      .crossJoin(broadcast(maxId))
      .select(
        expr(s"doc_id * $buckets div (max_id + 1)").as("bucket"),
        (col("doc_id") > col("first_id")).cast("long").as("is_dup"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"))
      .withColumn("cum_docs", sum("n_docs").over(cum))
      .withColumn("cum_dups", sum("n_dups").over(cum))
      .select(col("bucket"), col("n_docs"), col("n_dups"),
        r4(col("n_dups") * lit(1.0) / col("n_docs")).as("dup_frac"),
        r4(col("cum_dups") * lit(1.0) / col("cum_docs")).as("cum_dup_frac"))
      .orderBy("bucket")
  }

  val dedupCurveOracle: String = """
WITH h AS (SELECT doc_id, md5(text) AS ch FROM documents),
f AS (SELECT ch, MIN(doc_id) AS first_id FROM h GROUP BY ch),
m AS (SELECT MAX(doc_id) AS max_id FROM documents),
b AS (
  SELECT (h.doc_id * 10) // (m.max_id + 1) AS bucket,
         CASE WHEN h.doc_id > f.first_id THEN 1 ELSE 0 END AS is_dup
  FROM h JOIN f ON h.ch = f.ch CROSS JOIN m),
agg AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(is_dup) AS BIGINT) AS n_dups
  FROM b GROUP BY bucket),
c AS (
  SELECT bucket, n_docs, n_dups,
         CAST(SUM(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs,
         CAST(SUM(n_dups) OVER (ORDER BY bucket) AS BIGINT) AS cum_dups
  FROM agg)
SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, n_dups,
       FLOOR((n_dups * 1.0 / n_docs) * 10000.0 + 0.5) / 10000.0 AS dup_frac,
       FLOOR((cum_dups * 1.0 / cum_docs) * 10000.0 + 0.5) / 10000.0 AS cum_dup_frac
FROM c ORDER BY bucket"""

  /** Per-SOURCE dedup-saturation curve — [[dedupCurve]] at feed
   *  granularity, the triage view that decides WHICH crawl to stop
   *  paying for: per (source, ingestion decile), the fraction of docs
   *  exactly duplicating an EARLIER doc anywhere in the corpus, plus
   *  the source's cumulative fraction. A healthy feed's curve stays
   *  flat; a feed that started re-serving syndicated content bends up
   *  in its later deciles while the global curve ([[dedupCurve]])
   *  barely moves. Same shape and cost as the global curve — one
   *  hash-groupBy for first ids, one join back, a (sources ×
   *  buckets)-row aggregate; the cumulative window partitions BY
   *  SOURCE over that bounded aggregate only. */
  def dedupCurveBySource(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val h = docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("content_hash"))
    val first = h.groupBy("content_hash").agg(min("doc_id").as("first_id"))
    val maxId = docs.agg(max("doc_id").as("max_id"))
    val cum = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.join(first, "content_hash")
      .crossJoin(broadcast(maxId))
      .select(col("source"),
        expr(s"doc_id * $buckets div (max_id + 1)").as("bucket"),
        (col("doc_id") > col("first_id")).cast("long").as("is_dup"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"))
      .withColumn("cum_docs", sum("n_docs").over(cum))
      .withColumn("cum_dups", sum("n_dups").over(cum))
      .select(col("source"), col("bucket"), col("n_docs"), col("n_dups"),
        r4(col("n_dups") * lit(1.0) / col("n_docs")).as("dup_frac"),
        r4(col("cum_dups") * lit(1.0) / col("cum_docs")).as("cum_dup_frac"))
      .orderBy("source", "bucket")
  }

  val dedupCurveBySourceOracle: String = """
WITH h AS (SELECT doc_id, source, md5(text) AS ch FROM documents),
f AS (SELECT ch, MIN(doc_id) AS first_id FROM h GROUP BY ch),
m AS (SELECT MAX(doc_id) AS max_id FROM documents),
b AS (
  SELECT h.source, (h.doc_id * 10) // (m.max_id + 1) AS bucket,
         CASE WHEN h.doc_id > f.first_id THEN 1 ELSE 0 END AS is_dup
  FROM h JOIN f ON h.ch = f.ch CROSS JOIN m),
agg AS (
  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(is_dup) AS BIGINT) AS n_dups
  FROM b GROUP BY source, bucket),
c AS (
  SELECT source, bucket, n_docs, n_dups,
         CAST(SUM(n_docs) OVER (PARTITION BY source ORDER BY bucket) AS BIGINT) AS cum_docs,
         CAST(SUM(n_dups) OVER (PARTITION BY source ORDER BY bucket) AS BIGINT) AS cum_dups
  FROM agg)
SELECT source, CAST(bucket AS BIGINT) AS bucket, n_docs, n_dups,
       FLOOR((n_dups * 1.0 / n_docs) * 10000.0 + 0.5) / 10000.0 AS dup_frac,
       FLOOR((cum_dups * 1.0 / cum_docs) * 10000.0 + 0.5) / 10000.0 AS cum_dup_frac
FROM c ORDER BY source, bucket"""

  /** NORMALIZED exact dedup — the C4/RefinedWeb-style cheap win
   *  between byte-exact hashing and the near-dup family: docs hashed
   *  after lowercasing, stripping non-alphanumerics, and collapsing
   *  whitespace, so copies differing only in case, punctuation, or
   *  spacing collide. Per source: docs, raw exact dups, normalized
   *  dups, and what normalization GAINED over the raw hash (docs +
   *  BPE-estimate token mass) — the number that says whether the
   *  cheap normalization pass is worth running before paying
   *  candidate-generation cost on the fuzzier detectors. Shape: one
   *  projection computes both hashes, two hash-keyed first-id
   *  aggregates + joins back (the [[dedupExact]] plan twice), one
   *  |sources|-row rollup; the normalization is three codegen'd
   *  regex/case ops inside the Java∩RE2 parity subset. */
  def dedupNormalized(docs: DataFrame): DataFrame = {
    val h = docs.select(col("doc_id"), col("source"),
      expr("(n_chars + 3) div 4").as("tok"),
      md5(col("text")).as("raw_hash"),
      md5(trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " "))).as("norm_hash"))
    val rawFirst = h.groupBy("raw_hash").agg(min("doc_id").as("raw_first"))
    val normFirst = h.groupBy("norm_hash").agg(min("doc_id").as("norm_first"))
    h.join(rawFirst, "raw_hash").join(normFirst, "norm_hash")
      .select(col("source"), col("tok"),
        (col("doc_id") > col("raw_first")).cast("long").as("raw_dup"),
        (col("doc_id") > col("norm_first")).cast("long").as("norm_dup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("raw_dup").as("n_raw_dups"),
        sum("norm_dup").as("n_norm_dups"),
        sum(when(col("norm_dup") === 1L && col("raw_dup") === 0L, 1L)
          .otherwise(0L)).as("n_gained"),
        sum(when(col("norm_dup") === 1L && col("raw_dup") === 0L, col("tok"))
          .otherwise(0L)).as("tokens_gained"))
      .select(col("source"), col("n_docs"), col("n_raw_dups"),
        col("n_norm_dups"), col("n_gained"), col("tokens_gained"),
        r4(col("n_norm_dups") * lit(1.0) / col("n_docs")).as("norm_dup_frac"))
      .orderBy("source")
  }

  val dedupNormalizedOracle: String = """
WITH h AS (
  SELECT doc_id, source, (n_chars + 3) // 4 AS tok,
         md5(text) AS raw_hash,
         md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
  FROM documents),
rf AS (SELECT raw_hash, MIN(doc_id) AS raw_first FROM h GROUP BY raw_hash),
nf AS (SELECT norm_hash, MIN(doc_id) AS norm_first FROM h GROUP BY norm_hash),
fl AS (
  SELECT h.source, h.tok,
         CASE WHEN h.doc_id > rf.raw_first THEN 1 ELSE 0 END AS raw_dup,
         CASE WHEN h.doc_id > nf.norm_first THEN 1 ELSE 0 END AS norm_dup
  FROM h JOIN rf ON h.raw_hash = rf.raw_hash
         JOIN nf ON h.norm_hash = nf.norm_hash)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(raw_dup) AS BIGINT) AS n_raw_dups,
       CAST(SUM(norm_dup) AS BIGINT) AS n_norm_dups,
       CAST(SUM(CASE WHEN norm_dup = 1 AND raw_dup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gained,
       CAST(SUM(CASE WHEN norm_dup = 1 AND raw_dup = 0 THEN tok ELSE 0 END) AS BIGINT) AS tokens_gained,
       FLOOR((SUM(norm_dup) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS norm_dup_frac
FROM fl GROUP BY source ORDER BY source"""

  /** Corpus SNAPSHOT DIFF — the incremental-crawl audit run between
   *  two corpus versions before paying full-pipeline cost on the new
   *  one: per source, how much of the newly-added doc mass is FRESH
   *  content vs re-served bytes the previous snapshot already had
   *  (same exact content hash under a new doc id — feed replays,
   *  sitemap re-crawls), plus removed-doc counts. A source whose
   *  additions are mostly re-served is crawl-budget waste the dedup
   *  gates will pay to re-discover pair-by-pair. Shape: ids diff by
   *  one hash-keyed anti/semi join each; content classification is
   *  one join of the added docs against the OLD snapshot's distinct
   *  hash set (hash-keyed, broadcastable when the old snapshot's
   *  distinct-hash frame is small); |sources|-row rollup. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val oldH = oldDocs.select(col("doc_id"), col("source"),
      md5(col("text")).as("content_hash"))
    val newH = newDocs.select(col("doc_id"), col("source"),
      md5(col("text")).as("content_hash"),
      expr("(n_chars + 3) div 4").as("tok"))
    val oldHashes = oldH.select("content_hash").distinct()
      .withColumn("seen_before", lit(1L))
    val added = newH.join(oldH.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(oldHashes, Seq("content_hash"), "left")
    val removed = oldH.join(newH.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_removed"))
    val oldCounts = oldH.groupBy("source").agg(count(lit(1)).as("n_old"))
    val addedAgg = added.groupBy("source")
      .agg(count(lit(1)).as("n_added"),
        sum(coalesce(col("seen_before"), lit(0L))).as("n_added_reserved"),
        sum(when(col("seen_before").isNull, col("tok")).otherwise(0L))
          .as("fresh_tokens"))
    newH.groupBy("source").agg(count(lit(1)).as("n_new"))
      .join(oldCounts, Seq("source"), "left")
      .join(addedAgg, Seq("source"), "left")
      .join(removed, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_old"), lit(0L)).as("n_old"), col("n_new"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("n_added_reserved"), lit(0L)).as("n_added_reserved"),
        (coalesce(col("n_added"), lit(0L))
          - coalesce(col("n_added_reserved"), lit(0L))).as("n_added_fresh"),
        coalesce(col("fresh_tokens"), lit(0L)).as("fresh_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        r4(coalesce(col("n_added_reserved"), lit(0L)) * lit(1.0)
          / greatest(coalesce(col("n_added"), lit(0L)), lit(1L)))
          .as("reserved_frac"))
      .orderBy("source")
  }

  /** The harness drives the diff with old = even doc ids, new = the
   *  whole corpus (a strictly-growing snapshot, so n_removed = 0 —
   *  the operator handles removals generically). */
  val snapshotDiffOracle: String = """
WITH oldh AS (
  SELECT doc_id, source, md5(text) AS content_hash
  FROM documents WHERE doc_id % 2 = 0),
newh AS (
  SELECT doc_id, source, md5(text) AS content_hash, (n_chars + 3) // 4 AS tok
  FROM documents),
oldhashes AS (SELECT DISTINCT content_hash FROM oldh),
added AS (
  SELECT n.source, n.tok,
         CASE WHEN o.content_hash IS NOT NULL THEN 1 ELSE 0 END AS seen_before
  FROM newh n
  LEFT JOIN oldhashes o ON n.content_hash = o.content_hash
  WHERE n.doc_id NOT IN (SELECT doc_id FROM oldh)),
addagg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_added,
         CAST(SUM(seen_before) AS BIGINT) AS n_added_reserved,
         CAST(SUM(CASE WHEN seen_before = 0 THEN tok ELSE 0 END) AS BIGINT) AS fresh_tokens
  FROM added GROUP BY source),
oldc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_old FROM oldh GROUP BY source),
newc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new FROM newh GROUP BY source)
SELECT n.source,
       COALESCE(o.n_old, 0) AS n_old, n.n_new,
       COALESCE(a.n_added, 0) AS n_added,
       COALESCE(a.n_added_reserved, 0) AS n_added_reserved,
       COALESCE(a.n_added, 0) - COALESCE(a.n_added_reserved, 0) AS n_added_fresh,
       COALESCE(a.fresh_tokens, 0) AS fresh_tokens,
       CAST(0 AS BIGINT) AS n_removed,
       FLOOR((COALESCE(a.n_added_reserved, 0) * 1.0
              / GREATEST(COALESCE(a.n_added, 0), 1)) * 10000.0 + 0.5) / 10000.0 AS reserved_frac
FROM newc n
LEFT JOIN oldc o ON n.source = o.source
LEFT JOIN addagg a ON n.source = a.source
ORDER BY n.source"""

  // ---- shared shingle machinery -------------------------------------

  /** Distinct word-3-gram shingles per doc: (doc_id, gram).
   *  (doc_id, gram)-distinctness == within-doc distinctness, so
   *  dedup happens INSIDE the row (zero shuffle) — at 100 TB that's
   *  the difference between a projection and an exchange of
   *  |docs| x |grams/doc| rows. Shingling itself is the native
   *  codegen'd [[graft.functions.WordNGrams]] (`word_ngrams`,
   *  registered by [[graft.ext.GraftExtensions]]) — the equivalent
   *  `array_distinct(transform(...))` built-in composition runs its
   *  lambda interpreted on the hottest loop of the dedup family.
   *  Docs shorter than n words yield an empty array (no rows). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      explode(call_function("word_ngrams", col("text"), lit(n))).as("gram"))

  /** Materialize the shingle frame once for the whole near-dup family:
   *  every shingle consumer (`dedupNgram`/`dedupMinhash`/`dedupSimhash`
   *  /`TextAnalysis.noveltyScore`) accepts it via
   *  `precomputedShingles`, so a pipeline running several near-dup
   *  passes over the same corpus pays the tokenize+gram explode once
   *  at write time instead of once per operator. */
  def writeShingleStore(docs: DataFrame, path: String, n: Int = 3): Unit =
    shingles(docs, n).write.mode("overwrite").parquet(path)

  /** The multi-consumer shingle frame: a locally-built fallback is
   *  `.cache()`d (consumed by both the sketch path and the Jaccard
   *  verify), but a caller-supplied `precomputedShingles` — a
   *  store-backed parquet read in every composed pipeline — is passed
   *  through UNCACHED: re-caching a corpus-scale explode frame
   *  re-introduces exactly the heap-pressure degradation the
   *  store-over-cache design ([[withSharedShingles]]) exists to
   *  avoid, and a columnar scan per consumer is the cheaper second
   *  read. */
  private def cachedOrStore(docs: DataFrame,
                            pre: Option[DataFrame]): DataFrame =
    pre.getOrElse(shingles(docs).cache())

  /** A fresh scratch directory for session-temp stores, resolved
   *  through the session Hadoop conf so a cluster points it at
   *  HDFS/S3 scratch via `graft.scratch.dir` (default: the driver's
   *  local tmp — correct for local[] where driver and executors share
   *  a filesystem). */
  private[graft] def newScratchDir(spark: org.apache.spark.sql.SparkSession,
                                   prefix: String): String = {
    val base = new org.apache.hadoop.fs.Path(
      spark.conf.get("graft.scratch.dir",
        "file:" + System.getProperty("java.io.tmpdir")))
    val dir = new org.apache.hadoop.fs.Path(
      base, s"$prefix-${java.util.UUID.randomUUID}")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dir)
    dir.toString
  }

  /** Bracket for composites that need the shared shingle STORE only
   *  DURING their computation: materialize it (unless the caller
   *  supplied one), run `body`, eagerly `localCheckpoint` the result
   *  (every consumer returns a small rollup — checkpointing pins
   *  those few rows and truncates the lineage back to the store), and
   *  DELETE the store. Fixes the round-8 leak where every
   *  venn/token-savings call left a corpus-scale temp parquet behind
   *  for the life of the host. A caller-supplied store is the
   *  caller's to manage — passed through, never deleted. */
  private[graft] def withSharedShingles(
      docs: DataFrame, pre: Option[DataFrame], n: Int = 3)(
      body: DataFrame => DataFrame): DataFrame =
    pre match {
      case Some(sh) => body(sh)
      case None =>
        val spark = docs.sparkSession
        val dir = newScratchDir(spark, "graft-shingle-shared")
        try {
          writeShingleStore(docs, dir, n)
          body(spark.read.parquet(dir)).localCheckpoint()
        } finally {
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
    }

  /** Shared per-family verified pair sets for the detector-accounting
   *  composites ([[dedupPairVenn]], [[dedupTokenSavings]],
   *  [[dropProvenance]]). Calling the three family entry points
   *  separately makes each composite pay the full-store work three
   *  times over: two doc-size aggregations, two candidate-verify
   *  intersection joins (the heaviest shape — two joins against the
   *  whole shingle store each), and two gram-id signature passes.
   *  This bracket computes the gram-id frame ONCE, both sketch
   *  signatures in ONE partial-aggregating groupBy (the 16 min-hash
   *  mins and 32 simhash bit-votes are independent aggregate columns
   *  over the same (doc_id, gid) rows), and runs ONE exact-Jaccard
   *  verify over the ngram ∪ minhash candidate union, splitting per
   *  family by left-semi joins on the cached candidate frames.
   *
   *  Pair sets are IDENTICAL to [[dedupNgram]] / [[dedupMinhash]] /
   *  [[dedupSimhash]] at their defaults by construction: a candidate
   *  passes the union verify iff it passes its own family's verify
   *  (same arithmetic, same 0.2 threshold), and verified ∩ family
   *  candidates = the family's verified pairs. Caches are candidate-/
   *  doc-cardinality (never the shingle store); the body result is
   *  localCheckpoint-pinned before the caches drop. */
  private def withDetectorPairSets(sh: DataFrame)(
      body: DataFrame => DataFrame): DataFrame = {
    val dfc = sh.groupBy("gram").agg(count(lit(1)).as("df_cnt"))
    val rareSh = sh.join(dfc.filter(col("df_cnt") <= 5L).select("gram"), "gram")
    val ngCands = rareSh.select(col("gram"), col("doc_id").as("doc_a"))
      .join(rareSh.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct().cache()
    val aggCols = minhashMinCols(NumHashes) ++ simhashVoteCols
    val sigBoth = shingleIds(sh, "md5")
      .groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*).cache()
    val mhCands = saltedBucketPairs(minhashBandSig(sigBoth),
      Seq("band", "bsig"), "doc_id").cache()
    // Eagerly checkpoint the PAIR-CARDINALITY detector sets before the
    // body sees them: the semi-join split makes each family's lazy
    // plan carry the whole union-verify lineage (both families'
    // candidate generation), so a body that unions and self-joins
    // them hands Catalyst a plan with the detector chains inlined
    // 6+ times — measured round 12 as dedup_pair_venn 7.5 s
    // standalone vs 30-46 s inside the warmed bench JVM, pure
    // driver-side optimize/codegen blowup. r16: ONE tagged
    // (det, doc_a, doc_b) checkpoint instead of three per-family ones.
    // r17 (guide §2.6 overlap-independent-subtrees): the composite is
    // job-COUNT-bound at small scale (Profile: ~60 sequential sub-
    // second jobs per call) and its two verify chains are independent,
    // so the union-Jaccard verify and the simhash band+hamming verify
    // run as CONCURRENT driver jobs (actions are only sequential
    // because the driver calls them sequentially; the second chain's
    // tasks back-fill the first chain's stage tails). Nothing is
    // materialized before the fork: both chains race to fill the
    // shared sigBoth / ngCands / mhCands caches, which Spark's block
    // locking keeps correct. r17 measured the race cheaper than a
    // sigBoth.count() ahead of it, which adds a job to the graph.
    // Lazy-pin mode (plan audits) keeps the old single-threaded lazy
    // shape — no actions, nothing to overlap.
    val fp = sigBoth.select(col("doc_id"), simhashFpCol.as("fp"))
    val shPairsLazy = simhashVerify(
        saltedBucketPairs(simhashNibbles(fp), Seq("band", "nib"), "doc_id"),
        fp, maxHamming = 3)
      .select("doc_a", "doc_b")
    val lazyPins =
      sh.sparkSession.conf.get("graft.pin.results", "true") == "false"
    def mkVerified() = withJaccard(ngCands.union(mhCands).distinct(), sh)
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b")
    val (verified, shPairs) =
      if (lazyPins) (mkVerified(), shPairsLazy)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val fVer = scala.concurrent.Future { mkVerified() } // pinned by withJaccard
          val fSh = scala.concurrent.Future { shPairsLazy.localCheckpoint() }
          (scala.concurrent.Await.result(fVer, scala.concurrent.duration.Duration.Inf),
            scala.concurrent.Await.result(fSh, scala.concurrent.duration.Duration.Inf))
        } finally pool.shutdown()
      }
    def tag(det: String, df: DataFrame) =
      df.select(lit(det).as("det"), col("doc_a"), col("doc_b"))
    val tagged =
      tag("ngram", verified.join(ngCands, Seq("doc_a", "doc_b"), "left_semi"))
        .union(tag("minhash",
          verified.join(mhCands, Seq("doc_a", "doc_b"), "left_semi")))
        .union(tag("simhash", shPairs))
        .localCheckpoint()
    val out = body(tagged).localCheckpoint()
    Seq(mhCands, sigBoth, ngCands).foreach(_.unpersist())
    out
  }

  /** DuckDB mirror of [[shingles]] (1-based list indexing; `nums` is a
   *  static 1..4000 index table — docs are < 4000 tokens). */
  val shinglesCte: String = """
nums AS (SELECT unnest(range(1, 4001)) AS i),
toked AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
shingle AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram
  FROM toked, nums
  WHERE i + 2 <= len(toks))"""

  /** Gram document-frequency spectrum — the tuning evidence behind
   *  every df-threshold constant in the family ([[dedupNgram]]'s
   *  rare-gram `maxDf`, [[graft.pipeline.TextAnalysis.noveltyScore]]'s
   *  `boilerplateDf`): per floor(log2(df)) bucket, how many distinct
   *  grams live there and how much occurrence mass they carry, with
   *  shares of both totals. The head buckets say what an inverted
   *  index must survive (hot boilerplate grams), the df=1 bucket says
   *  what rarity blocking can key on. Integer log2 via
   *  `length(bin(x)) - 1`; ONE gram-keyed partial agg (the family's
   *  standard shuffle) collapses to ~log2(corpus) rows before the
   *  broadcast totals join. */
  def gramDfSpectrum(docs: DataFrame,
                     precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = precomputedShingles.getOrElse(shingles(docs))
    val dfc = sh.groupBy("gram").agg(count(lit(1)).as("df_cnt"))
    val buckets = dfc
      .select((length(expr("bin(df_cnt)")) - 1).cast("long").as("df_bucket"),
        col("df_cnt"))
      .groupBy("df_bucket").agg(
        count(lit(1)).as("n_grams"), sum("df_cnt").as("occurrences"))
    val totals = buckets.agg(sum("n_grams").as("grams_total"),
      sum("occurrences").as("occ_total"))
    buckets.crossJoin(broadcast(totals))
      .select(col("df_bucket"), col("n_grams"), col("occurrences"),
        r4(col("n_grams") * lit(1.0) / col("grams_total")).as("gram_share"),
        r4(col("occurrences") * lit(1.0) / col("occ_total")).as("occ_share"))
      .orderBy("df_bucket")
  }

  val gramDfSpectrumOracle: String = "WITH " + shinglesCte.trim + """,
dfreq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shingle GROUP BY gram),
buckets AS (
  SELECT CAST(len(bin(df_cnt)) - 1 AS BIGINT) AS df_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(df_cnt) AS BIGINT) AS occurrences
  FROM dfreq GROUP BY len(bin(df_cnt)) - 1),
totals AS (
  SELECT CAST(SUM(n_grams) AS BIGINT) AS grams_total,
         CAST(SUM(occurrences) AS BIGINT) AS occ_total
  FROM buckets)
SELECT b.df_bucket, b.n_grams, b.occurrences,
       FLOOR((b.n_grams * 1.0 / t.grams_total) * 10000.0 + 0.5) / 10000.0 AS gram_share,
       FLOOR((b.occurrences * 1.0 / t.occ_total) * 10000.0 + 0.5) / 10000.0 AS occ_share
FROM buckets b CROSS JOIN totals t
ORDER BY b.df_bucket"""

  /** Exact per-source gram overlap — the precise marginal next to
   *  [[dupSourceMatrix]]'s 16-hash MinHash ESTIMATE of pairwise
   *  source Jaccard: for each source, the fraction of its distinct
   *  grams that appear in at least one OTHER source (cross-source
   *  boilerplate + syndication share). One distinct over
   *  (source, gram) — strictly smaller than the shingle frame — one
   *  gram-keyed source-spread agg, one keyed join back, rollup to
   *  |sources| rows. All counts integer; share a final r4
   *  division. */
  def sourceGramOverlap(docs: DataFrame,
                        precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = precomputedShingles.getOrElse(shingles(docs))
    val sg = sh.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select("source", "gram").distinct()
    val spread = sg.groupBy("gram").agg(count(lit(1)).as("n_sources"))
    sg.join(spread, "gram")
      .groupBy("source").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("n_sources") >= 2, lit(1L)).otherwise(lit(0L)))
          .as("shared_grams"))
      .select(col("source"), col("n_grams"), col("shared_grams"),
        r4(col("shared_grams") * lit(1.0) / col("n_grams")).as("shared_frac"))
      .orderBy("source")
  }

  val sourceGramOverlapOracle: String = "WITH " + shinglesCte.trim + """,
sg AS (
  SELECT DISTINCT d.source, s.gram
  FROM shingle s JOIN documents d ON s.doc_id = d.doc_id),
spread AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_sources FROM sg GROUP BY gram),
per AS (
  SELECT g.source,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN sp.n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_grams
  FROM sg g JOIN spread sp ON g.gram = sp.gram
  GROUP BY g.source)
SELECT source, n_grams, shared_grams,
       FLOOR((shared_grams * 1.0 / n_grams) * 10000.0 + 0.5) / 10000.0 AS shared_frac
FROM per
ORDER BY source"""

  /** (doc_id, gid) for a shingle frame — a pure per-row PROJECTION in
   *  every family; there is no vocabulary, no global sort, and no join
   *  anywhere in gram-id assignment. Families:
   *
   *  - `"md5"` (oracle-parity baseline): gid = the first 8 md5 hex
   *    digits of the gram parsed base-16, mod P — identical arithmetic
   *    in Spark (`conv(hex, 16, 10)`) and DuckDB
   *    (`('0x' || hex)::UBIGINT`), so the DuckDB oracle reproduces
   *    every signature bit-for-bit. Costs one crypto digest + hex
   *    round-trip per gram.
   *  - `"poly"` (100 TB mode): the native codegen'd
   *    [[graft.functions.PolyHash]] (`poly_hash`) — one fused
   *    multiply-add loop per gram, no digest, no allocation, AND still
   *    exactly reproducible in DuckDB ([[polyGramIdSql]]), so the
   *    scale mode keeps a full fingerprint-parity oracle.
   *  - `"xxhash"` (cheapest, oracle-opaque): `pmod(xxhash64, P)` —
   *    nothing another engine reproduces, so no SQL oracle; covered by
   *    the in-driver scale-mode specs. (A ground-truth-equality oracle
   *    was tried and retired: it doubles as a 100%-LSH-recall
   *    assertion, which is probabilistic at the Jaccard threshold and
   *    broke at sf0.1.)
   *
   *  mod P keeps the affine hashes (a*gid+b) inside Long range under
   *  ANSI arithmetic AND non-negative (a raw 64-bit hash would
   *  overflow the multiply and flip remainder signs). Id collisions
   *  at |vocab| ~ P merge a few grams identically in both engines —
   *  harmless for min-hash/bit-vote statistics and invisible to the
   *  oracle compare. */
  private[pipeline] def shingleIds(sh: DataFrame, idFamily: String): DataFrame =
    idFamily match {
      case "md5" => sh.select(col("doc_id"),
        (conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
          % Prime).as("gid"))
      case "poly" => sh.select(col("doc_id"),
        call_function("poly_hash", col("gram")).as("gid"))
      case "xxhash" => sh.select(col("doc_id"),
        pmod(xxhash64(col("gram")), lit(Prime)).as("gid"))
      case other => throw new IllegalArgumentException(
        s"unknown gram-id family '$other' (md5|poly|xxhash)")
    }

  /** DuckDB spelling of the md5 gram id. */
  val gramIdSql: String =
    "CAST(CAST(('0x' || substr(md5(s.gram), 1, 8)) AS UBIGINT) % 1000003 AS BIGINT)"

  /** DuckDB mirror of the `"poly"` family ([[graft.functions.PolyHash]]):
   *  per-code-point power-table sum over the gram's first 64 code
   *  points. Emits `shid(doc_id, gid)` from `shingle`; prepend
   *  `WITH RECURSIVE` (the power table is a recursive CTE).
   *
   *  Unicode granularity: DuckDB's `len`/`substr`/`ord` are
   *  CODE-POINT-granular (not grapheme-cluster), matching the Scala
   *  `codePointAt` loop exactly — verified cross-engine for combining
   *  marks, Devanagari clusters, astral-plane emoji, and ZWJ
   *  sequences by `tools/poly_parity.py` (run it against the local
   *  DuckDB whenever either side of the lockstep changes). */
  val polyShidCte: String = """
pw AS (
  SELECT 1 AS i, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT i + 1, (v * 31) % 1000003 FROM pw WHERE i < 64),
pchars AS (
  SELECT s.doc_id, s.gram, p.i, ord(substr(s.gram, p.i, 1)) * p.v AS term
  FROM shingle s JOIN pw p ON p.i <= LEAST(len(s.gram), 64)),
shid AS (
  SELECT doc_id, CAST(SUM(term) % 1000003 AS BIGINT) AS gid
  FROM pchars GROUP BY doc_id, gram)"""

  /** Within-bucket candidate pairs with skew salting: members of each
   *  bucket are split into `salts` groups by id-hash; the right side is
   *  replicated once per salt so every pair lands in exactly one
   *  (bucket, salt) join cell. A hot bucket's pair generation spreads
   *  over `salts` reducers instead of melting one. Pair SET is
   *  identical to the unsalted bucket self-join (asserted in
   *  PipelineSpec). `keyCols` are the bucket key columns; `idCol` the
   *  member id. */
  def saltedBucketPairs(members: DataFrame, keyCols: Seq[String],
                        idCol: String, salts: Int = 8): DataFrame = {
    val keys = keyCols.map(col)
    val left = members
      .withColumn("sa", pmod(xxhash64(col(idCol)), lit(salts.toLong)))
      .select(keys :+ col("sa") :+ col(idCol).as("doc_a"): _*)
    val right = members
      .withColumn("sa", explode(expr(s"sequence(0L, ${salts - 1}L)")))
      .select(keys :+ col("sa") :+ col(idCol).as("doc_b"): _*)
    left.join(right, keyCols :+ "sa")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Default per-bucket member bound for [[cappedBucketPairs]]: far
   *  above any bucket the test corpora produce (so the capped path is
   *  bit-identical to [[saltedBucketPairs]] at every test SF — the
   *  oracles stay exact) while turning a 100 TB hot cell's |cell|²
   *  pair blow-up into |cell| × O(cap).
   *
   *  The recall PRICE above the cap is measured, not guessed
   *  (PipelineSpec "above-cap recall"): with s = ceil(n/cap)
   *  sub-buckets the retained fraction of a hot cell's true pairs
   *  tracks the even-spread analytic (3s-2)/s² — measured 0.659 at
   *  4x over cap, 0.347 at 8x, 0.182 at 16x. Candidate recall only;
   *  the chain keeps the cell CONNECTED, so duplicate-cluster folds
   *  (dedupSemantic → connected components) still glue the whole
   *  cell — the price lands on per-pair consumers (kNN edges), the
   *  same trade the IVF cell restriction itself makes. */
  val HotCellCap: Int = 4096

  /** Bound for the driver-collected rare-batch-gram In-pushdown list
   *  in [[dedupNgramIncremental]]; beyond it the trigger falls back to
   *  the broadcast left-semi. MEASURED bound, not a memory guard: a
   *  7.5k-string In literal in the trigger plan cost ~3-5 s of
   *  driver-side plan work per trigger (sf0.1 quarter-seed probe) —
   *  plan-embedded literal lists stop paying for themselves long
   *  before driver memory matters, so only compact lists (the
   *  common large-store case, where most batch grams are NOT rare)
   *  take the pushdown path. */
  val RareGramPushdownMax: Int = 1024

  /** [[saltedBucketPairs]] with a HARD per-bucket pair bound — the
   *  skew guard for bucket families whose key has no df-cap (the IVF
   *  `cent_id` cell family above all: a million near-identical
   *  boilerplate embeddings landing on one centroid is exactly the
   *  distribution a dedup corpus has, and salting alone only SPREADS
   *  the |cell|² pairs, it doesn't shrink them).
   *
   *  Buckets of ≤ `cap` members pair exactly as [[saltedBucketPairs]]
   *  (same pair SET — asserted in PipelineSpec). A bucket of n > cap
   *  members is split into ceil(n/cap) sub-buckets by member-id hash,
   *  and pairs are enumerated WITHIN each sub-bucket plus across each
   *  CHAIN-ADJACENT sub-bucket pair (s, s+1) — every member still
   *  pairs against ~2·cap peers and the sub-bucket chain keeps the
   *  bucket connected for downstream clustering, but total pair work
   *  per bucket drops from n²/2 to n·O(cap): linear in the hot cell.
   *  Nothing is truncated or dropped — every member appears in the
   *  output — the trade above `cap` is candidate RECALL inside the
   *  hot bucket (a sub-sampled neighbor set), the same approximation
   *  the IVF cell restriction itself already makes and the same
   *  gauges ([[graft.pipeline.Embeddings]] `annRecall`) measure.
   *
   *  Path choice is a ONE-ROW bounded driver action (the
   *  [[graft.pipeline.Clustering]] bounded-union-find precedent): the
   *  max bucket size comes off a partial-agg over `members` (K rows
   *  after combine). Below the cap the helper returns the EXACT
   *  [[saltedBucketPairs]] plan — zero extra distributed stages, so
   *  unskewed corpora (every test SF) pay only the size probe; the
   *  sub-bucket plan's extra join/explode/distinct stages are built
   *  only when a hot bucket exists, where they are amortized by the
   *  |cell|² work they remove. Hot buckets are REPORTED (count + max
   *  size on stderr) — nothing silent.
   *  CALLER CONTRACT: hand a CACHED `members` frame — the size probe
   *  plus the pair-join sides scan it up to four times; left lazy, an
   *  expensive members subtree re-runs per scan (measured 2-7x across
   *  the kNN family). The cent_id call sites eager-cache their
   *  centroid assignment for exactly this. */
  def cappedBucketPairs(members: DataFrame, keyCols: Seq[String],
                        idCol: String, cap: Int = HotCellCap,
                        salts: Int = 8): DataFrame = {
    val keys = keyCols.map(col)
    val sizes = members.groupBy(keys: _*).agg(count(lit(1L)).as("cell_n"))
    val hot = sizes.filter(col("cell_n") > cap)
      .agg(count(lit(1L)).as("n_hot"), max("cell_n").as("max_cell"))
      .collect()(0)
    if (hot.getLong(0) == 0L)
      return saltedBucketPairs(members, keyCols, idCol, salts)
    System.err.println(s"[graft] cappedBucketPairs: ${hot.getLong(0)} " +
      s"bucket(s) over cap=$cap (max ${hot.getLong(1)} members) — " +
      "sub-bucketing; hot-bucket pair recall is sub-sampled (~2*cap " +
      "peers per member)")
    val subbed = members.join(sizes, keyCols)
      .withColumn("sub", pmod(xxhash64(col(idCol)),
        expr(s"(cell_n + ${cap - 1}) div $cap")))
      .select(keys :+ col("sub") :+ col(idCol): _*)
    val left = subbed
      .withColumn("sa", pmod(xxhash64(col(idCol)), lit(salts.toLong)))
      .select(keys :+ col("sub") :+ col("sa") :+ col(idCol).as("doc_a"): _*)
    val withinRight = subbed
      .withColumn("sa", explode(expr(s"sequence(0L, ${salts - 1}L)")))
      .select(keys :+ col("sub") :+ col("sa") :+ col(idCol).as("doc_b"): _*)
    val within = left.join(withinRight, keyCols :+ "sub" :+ "sa")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // chain-adjacent cross pairs: re-key sub-bucket s+1 as s so the
    // equi-join lands (s, s+1) blocks together; sub-buckets partition
    // the id set, so doc_a ≠ doc_b by construction — normalize order.
    val crossRight = subbed.filter(col("sub") > 0)
      .withColumn("sub", col("sub") - lit(1L))
      .withColumn("sa", explode(expr(s"sequence(0L, ${salts - 1}L)")))
      .select(keys :+ col("sub") :+ col("sa") :+ col(idCol).as("doc_b"): _*)
    val cross = left.join(crossRight, keyCols :+ "sub" :+ "sa")
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    within.union(cross).distinct()
  }

  /** Exact Jaccard for a candidate-pair frame (doc_a, doc_b):
   *  intersection counted ONLY for candidate pairs (pairs x grams-of-a
   *  joined to grams-of-b) — cost scales with |candidates|, not with
   *  the quadratic co-occurrence of common grams. Columns added:
   *  inter_n, n_a, n_b, jaccard (unrounded). */
  /** Restrict a per-doc state frame to docs appearing as either
   *  endpoint of `cands`. Verification is candidate-driven end to
   *  end, so handing a verify the FULL state frame makes it shuffle
   *  O(state) rows (size aggregates, doc-keyed joins) for docs no
   *  candidate touches; after this left-semi the state store is only
   *  SCANNED, never exchanged at state cardinality — the endpoint
   *  list is candidate-bounded and AQE broadcasts it. Identical
   *  results by construction: every downstream use keys on
   *  `cands`' endpoints. */
  private[pipeline] def endpointRestrict(state: DataFrame, cands: DataFrame,
                                         idCol: String = "doc_id",
                                         aCol: String = "doc_a",
                                         bCol: String = "doc_b"): DataFrame =
    state.join(
      cands.select(col(aCol).as(idCol))
        .union(cands.select(col(bCol).as(idCol))).distinct(),
      Seq(idCol), "left_semi")

  /** Pin bracket for the incremental/streaming near-dup verifies: the
   *  candidate frame and the endpoint-restricted state frame are each
   *  consumed several times by the exact verify (endpoint union 2x,
   *  sizes, two inter sides, final join) — left uncached, Spark
   *  re-executes the whole candidate-generation subtree (including
   *  the full band scan over the state store) once per reference,
   *  ~8x per call. Measured round 10: the streaming minhash trigger
   *  went 3.8 s -> 43.6 s at sf0.1 and its per-trigger cost turned
   *  O(corpus), exactly this. Both frames are small by the
   *  incremental contract (candidate- and endpoint-bounded), so:
   *  cache both, pin the small verified-pair result with an eager
   *  `localCheckpoint` (block-manager blocks are GC-cleaned, unlike
   *  CacheManager entries), then DROP the caches — per-call cost is
   *  O(batch + one state-store scan) again and nothing cached
   *  outlives the call.
   *
   *  Test seam: `graft.pin.results=false` returns the LAZY composed
   *  frame instead (no caching, no checkpoint) so plan audits can
   *  assert the structural shape (batch-below-pair-join, store-only
   *  scans) that pinning would otherwise collapse to an RDD scan. */
  private[pipeline] def pinnedVerify(
      cands: DataFrame, state: DataFrame,
      idCol: String = "doc_id", aCol: String = "doc_a",
      bCol: String = "doc_b")(
      verify: (DataFrame, DataFrame) => DataFrame): DataFrame =
    if (cands.sparkSession.conf.get("graft.pin.results", "true") == "false")
      verify(cands, endpointRestrict(state, cands, idCol, aCol, bCol))
    else {
      val c = cands.cache()
      val touched = endpointRestrict(state, c, idCol, aCol, bCol).cache()
      val out = verify(c, touched).localCheckpoint()
      touched.unpersist()
      c.unpersist()
      out
    }

  private[pipeline] def withJaccard(cands: DataFrame, sh: DataFrame,
                                    restrict: Boolean = true): DataFrame = {
    // r16 (guide §3.2/§2.3): verification is candidate-driven, so (1)
    // PIN the candidate frame once — the plan otherwise re-executes
    // the whole candidate-generation subtree (df agg + bucket
    // self-join + distinct) per reference, and this body references
    // it three times (endpoint list, intersection join, final join) —
    // and (2) cut the shingle frame to candidate ENDPOINTS (one
    // left-semi on the pinned candidate ids) BEFORE the size
    // aggregate and the two intersection joins, so the (doc, gram)
    // rows of never-touched docs never enter the verify's exchanges
    // (the heavy one is the (doc_b, gram)-keyed intersection join,
    // which previously shuffled the WHOLE shingle frame). Results
    // identical by construction: every downstream join keys on the
    // candidates' endpoints, and a doc's size/intersection counts
    // only need its own grams, all retained. A restrict-without-pin
    // variant was measured 1.3-3.4x SLOWER at sf0.1 (the endpoint
    // list re-ran candidate generation twice more); the pin is what
    // makes the restriction free. Incremental callers pass
    // restrict = false — their candidate and state frames arrive
    // already pinned + endpoint-restricted (pinnedVerify). The
    // graft.pin.results=false seam preserves the fully-lazy shape for
    // plan audits (the pinnedVerify discipline).
    val pin = restrict &&
      cands.sparkSession.conf.get("graft.pin.results", "true") != "false"
    val c = if (pin) cands.localCheckpoint() else cands
    // r17: the endpoint-restricted frame is consumed THREE times
    // (size agg + both intersection sides) — uncached, each
    // consumption re-scans the shingle store behind the semi-join.
    // shT is dup-endpoint-bounded (never the store), so cache it and
    // pin the pair-cardinality verify result, then drop the cache —
    // pinnedVerify's bracket applied to the batch path.
    val shT0 = if (restrict) endpointRestrict(sh, c) else sh
    val shT = if (pin) shT0.cache() else shT0
    val sizes = shT.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = c
      .join(shT.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
      .join(shT.select(col("doc_id").as("doc_b"), col("gram")), Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_n"))
    val composed = c.join(inter, Seq("doc_a", "doc_b"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("inter_n") * lit(1.0) / (col("n_a") + col("n_b") - col("inter_n")))
    if (!pin) composed
    else {
      val out = composed.localCheckpoint()
      shT.unpersist()
      out
    }
  }

  /** n-gram Jaccard near-dup with rare-gram blocking: candidate pairs
   *  share at least one gram whose document frequency is <= maxDf (the
   *  inverted-index bucket join), then exact Jaccard >= minJaccard is
   *  verified on the shingle sets. */
  def dedupNgram(docs: DataFrame, maxDf: Long = 5L,
                 minJaccard: Double = 0.2,
                 precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = cachedOrStore(docs, precomputedShingles)
    val df = sh.groupBy("gram").agg(count(lit(1)).as("df_cnt"))
    val rare = df.filter(col("df_cnt") <= maxDf).select("gram")
    val rareSh = sh.join(rare, "gram")
    val cands = rareSh.select(col("gram"), col("doc_id").as("doc_a"))
      .join(rareSh.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    withJaccard(cands, sh)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        col("inter_n"), col("n_a"), col("n_b"), r4(col("jaccard")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** CTE chain (appended after [[shinglesCte]]) producing the VERIFIED
   *  near-dup pair set `verified(doc_a, doc_b, inter_n, n_a, n_b)` —
   *  the SQL twin of [[dedupNgram]]'s pipeline body, shared by its
   *  oracle and every rollup built on the pair set
   *  ([[dupSourceMatrix]]) so the two can never drift. */
  val ngramVerifiedCte: String = """
dfreq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shingle GROUP BY gram),
rare AS (SELECT gram FROM dfreq WHERE df_cnt <= 5),
raresh AS (SELECT s.doc_id, s.gram FROM shingle s JOIN rare r ON s.gram = r.gram),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM raresh a JOIN raresh b ON a.gram = b.gram AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b, i.inter_n, sa.n AS n_a, sb.n AS n_b
  FROM cands c
  JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
  WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2)"""

  val dedupNgramOracle: String = "WITH " + shinglesCte + "," + ngramVerifiedCte + """
SELECT doc_a, doc_b, inter_n, n_a, n_b,
       FLOOR((inter_n * 1.0 / (n_a + n_b - inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM verified
ORDER BY doc_a, doc_b"""

  /** Query-by-document SIMILARITY SEARCH over the lexical index — the
   *  serving-path reading of [[dedupNgram]]'s machinery. dedupNgram
   *  enumerates the whole above-threshold pair GRAPH (a batch dedup
   *  pass); this answers the retrieval question a curation reviewer or
   *  attribution tool asks: "for THIS document, what are its k nearest
   *  lexical neighbors, however weak" — top-k by exact shingle Jaccard
   *  among rare-gram candidates, no threshold, so near-misses below
   *  the dedup cutoff are visible (the [[Embeddings.annTopK]] analogue
   *  on the lexical side). Queries are a deterministic id sample
   *  (doc_id % 53 = 0 — the bounded-query-set contract annTopK has).
   *
   *  Scale shape: candidate generation is the same df-capped inverted
   *  index as dedupNgram (each rare gram fans out <= maxDf docs — the
   *  skew guard), restricted to query docs on one side BEFORE the
   *  gram join, so candidate cost is |query shingles| x maxDf, not
   *  corpus-pair; Jaccard verification is candidate-driven; the top-k
   *  rank is a window over each query's candidates (bounded), never a
   *  corpus sort. */
  def similarDocs(docs: DataFrame, maxDf: Long = 5L, k: Int = 3,
                  precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = cachedOrStore(docs, precomputedShingles)
    val dfc = sh.groupBy("gram").agg(count(lit(1)).as("df_cnt"))
    val rareSh = sh.join(dfc.filter(col("df_cnt") <= maxDf).select("gram"), "gram")
    val qSide = rareSh.filter(pmod(col("doc_id"), lit(53L)) === 0L)
      .select(col("gram"), col("doc_id").as("doc_a"))
    val cands = qSide
      .join(rareSh.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    withJaccard(cands, sh)
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_a")
          .orderBy(col("jaccard").desc, col("doc_b"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_a").as("query_id"), col("rank"),
        col("doc_b").as("match_id"), col("inter_n"), col("n_a"), col("n_b"),
        r4(col("jaccard")).as("jaccard"))
      .orderBy("query_id", "rank")
  }

  /** Rides [[shinglesCte]]; the rank ORDER BY compares the identical
   *  pre-round IEEE division both engines compute, ties on match id —
   *  the [[dedupNgram]] jaccard arithmetic verbatim. */
  val similarDocsOracle: String = "WITH " + shinglesCte + """,
sd_dfreq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shingle GROUP BY gram),
sd_rare AS (SELECT gram FROM sd_dfreq WHERE df_cnt <= 5),
sd_raresh AS (SELECT s.doc_id, s.gram FROM shingle s JOIN sd_rare r ON s.gram = r.gram),
sd_cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sd_raresh a JOIN sd_raresh b ON a.gram = b.gram AND a.doc_id <> b.doc_id
  WHERE a.doc_id % 53 = 0),
sd_sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
sd_inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM sd_cands c
  JOIN shingle a ON a.doc_id = c.doc_a
  JOIN shingle b ON b.doc_id = c.doc_b AND b.gram = a.gram
  GROUP BY c.doc_a, c.doc_b),
sd_ranked AS (
  SELECT i.doc_a, i.doc_b, i.inter_n, sa.n AS n_a, sb.n AS n_b,
         CAST(ROW_NUMBER() OVER (PARTITION BY i.doc_a
           ORDER BY i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) DESC, i.doc_b) AS BIGINT) AS rank
  FROM sd_inter i
  JOIN sd_sizes sa ON i.doc_a = sa.doc_id
  JOIN sd_sizes sb ON i.doc_b = sb.doc_id)
SELECT doc_a AS query_id, rank, doc_b AS match_id, inter_n, n_a, n_b,
       FLOOR((inter_n * 1.0 / (n_a + n_b - inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM sd_ranked WHERE rank <= 3
ORDER BY query_id, rank"""

  /** TRANSITIVITY of the verified near-dup pair graph — the
   *  cluster-quality gauge read before trusting [[Clustering]]'s
   *  connected components as "duplicate groups": of all wedges
   *  (A–B, B–C), how many close into a triangle (A–C also verified)?
   *  A threshold detector on a true equivalence-ish relation closes
   *  most wedges; low transitivity means components are CHAINS glued
   *  by borderline pairs — survivor policies that keep one doc per
   *  component are then deleting non-duplicates, and the threshold
   *  (or containment semantics) needs review. Shape: everything is
   *  pair-bounded — the wedge join keys the k-bounded directed edge
   *  list on its middle vertex, the closure check is one join back
   *  to the pair set; nothing touches corpus text.
   *
   *  Hub guard (round-11 verdict): a middle vertex of degree d emits
   *  ~d²/2 wedges, and hub/template documents with degree in the tens
   *  of thousands are real at 100 TB ([[dupDegreeHist]] exists to
   *  find them) — an uncapped wedge join dies on exactly the corpus
   *  this gauge is meant to assess. Vertices with degree >
   *  `maxWedgeDegree` are excluded from the MIDDLE position (they
   *  still appear as endpoints), bounding wedge count by cap × pairs;
   *  the readout is therefore "transitivity over non-hub wedges" —
   *  the honest statistic anyway, since a template hub's star closes
   *  almost nothing and would swamp the signal it fakes. */
  def dedupTransitivity(docs: DataFrame, maxDf: Long = 5L,
                        minJaccard: Double = 0.2,
                        precomputedShingles: Option[DataFrame] = None,
                        maxWedgeDegree: Long = 1000L): DataFrame = {
    val pairs = dedupNgram(docs, maxDf, minJaccard, precomputedShingles)
      .select("doc_a", "doc_b").cache()
    val sym = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val okMid = sym.groupBy(col("doc_a").as("mid"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxWedgeDegree).select("mid")
    val wedges = sym.select(col("doc_a").as("a"), col("doc_b").as("mid"))
      .join(okMid, "mid")
      .join(sym.select(col("doc_a").as("mid"), col("doc_b").as("c")), "mid")
      .filter(col("a") < col("c"))
    val closed = wedges.join(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("c"),
          lit(1L).as("is_closed")),
        Seq("a", "c"), "left")
    val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
    val out = closed.agg(
        count(lit(1)).as("n_wedges"),
        coalesce(sum(coalesce(col("is_closed"), lit(0L))), lit(0L))
          .as("n_closed"))
      .crossJoin(nPairs)
      .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
        r4(col("n_closed") * lit(1.0) / greatest(col("n_wedges"), lit(1L)))
          .as("transitivity"))
      .localCheckpoint()
    pairs.unpersist()
    out
  }

  /** [[ngramVerifiedCte]]'s pair set + the symmetric wedge join
   *  (middle vertex degree-capped at 1000, matching the Spark hub
   *  guard) and triangle-closure check. */
  val dedupTransitivityOracle: String =
    "WITH " + shinglesCte + "," + ngramVerifiedCte + """,
p AS (SELECT doc_a, doc_b FROM verified),
sym AS (SELECT doc_a, doc_b FROM p
        UNION ALL SELECT doc_b, doc_a FROM p),
okmid AS (SELECT doc_a AS mid FROM sym GROUP BY doc_a
          HAVING CAST(COUNT(*) AS BIGINT) <= 1000),
wedges AS (
  SELECT e1.doc_a AS a, e1.doc_b AS mid, e2.doc_b AS c
  FROM sym e1
  JOIN okmid m ON e1.doc_b = m.mid
  JOIN sym e2 ON e1.doc_b = e2.doc_a
  WHERE e1.doc_a < e2.doc_b),
closed AS (
  SELECT w.a, w.c, CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_closed
  FROM wedges w LEFT JOIN p t ON w.a = t.doc_a AND w.c = t.doc_b),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p),
wc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges,
              CAST(COALESCE(SUM(is_closed), 0) AS BIGINT) AS n_closed
       FROM closed)
SELECT np.n_pairs, wc.n_wedges, wc.n_closed,
       FLOOR((wc.n_closed * 1.0 / GREATEST(wc.n_wedges, 1)) * 10000.0 + 0.5) / 10000.0 AS transitivity
FROM wc CROSS JOIN np"""

  /** Cross-LANGUAGE near-dup matrix over the verified n-gram pair
   *  graph — the translation-boilerplate / mixed-language-template
   *  detector: per unordered language pair, how many verified pairs
   *  connect a doc of lang_a to a doc of lang_b. Off-diagonal mass at
   *  J ≥ 0.2 on raw shingles means shared same-script boilerplate
   *  (code blocks, navigation shells, license text) spanning language
   *  labels — exactly the content a per-language dedup pass would
   *  MISS, and the evidence for running dedup corpus-wide rather than
   *  per language shard. Diagonal rows are the within-language
   *  baseline the off-diagonal reads against. Shape: two doc-keyed
   *  broadcast-ish joins of the candidate-bounded pair frame against
   *  a (doc_id, lang) projection, one ≤|langs|² rollup. */
  def dedupCrossLang(docs: DataFrame, maxDf: Long = 5L,
                     minJaccard: Double = 0.2,
                     precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val pairs = dedupNgram(docs, maxDf, minJaccard, precomputedShingles)
      .select("doc_a", "doc_b")
    val langs = docs.select(col("doc_id"), col("lang"))
    pairs
      .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("la")), "doc_a")
      .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lb")), "doc_b")
      .select(least(col("la"), col("lb")).as("lang_a"),
        greatest(col("la"), col("lb")).as("lang_b"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_lang", (col("lang_a") =!= col("lang_b")).cast("long"))
      .orderBy("lang_a", "lang_b")
  }

  /** [[ngramVerifiedCte]]'s pair set + the unordered language rollup. */
  val dedupCrossLangOracle: String =
    "WITH " + shinglesCte + "," + ngramVerifiedCte + """
SELECT LEAST(da.lang, db.lang) AS lang_a,
       GREATEST(da.lang, db.lang) AS lang_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(CASE WHEN LEAST(da.lang, db.lang) <> GREATEST(da.lang, db.lang)
            THEN 1 ELSE 0 END AS BIGINT) AS cross_lang
FROM verified v
JOIN documents da ON v.doc_a = da.doc_id
JOIN documents db ON v.doc_b = db.doc_id
GROUP BY LEAST(da.lang, db.lang), GREATEST(da.lang, db.lang)
ORDER BY lang_a, lang_b"""

  /** Duplicate-partner degree histogram over the verified n-gram pair
   *  graph — the template/hub-document detector for LEXICAL dedup
   *  ([[graft.pipeline.Embeddings.knnHubness]]'s counterpart): a
   *  document with hundreds of partners is a boilerplate template
   *  (navigation shell, license block, form letter) whose CLUSTER
   *  should be reviewed as a unit, and the histogram's tail mass is
   *  the first thing to read before trusting per-pair survivor rules
   *  at 100 TB (drop-doc_b on a 500-partner hub deletes 500 docs for
   *  one template). Degree-0 mass included via the left join. Shape:
   *  pair frame is candidate-bounded; the rollups run at pair then
   *  degree cardinality. */
  def dupDegreeHist(docs: DataFrame, maxDf: Long = 5L,
                    minJaccard: Double = 0.2,
                    precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val pairs = dedupNgram(docs, maxDf, minJaccard, precomputedShingles)
    val deg = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    docs.select("doc_id").join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** [[ngramVerifiedCte]]'s pair set + the same endpoint rollup and
   *  degree-0 left join. */
  val dupDegreeHistOracle: String =
    "WITH " + shinglesCte + "," + ngramVerifiedCte + """,
deg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT doc_a AS doc_id FROM verified
    UNION ALL SELECT doc_b AS doc_id FROM verified) u
  GROUP BY doc_id),
alld AS (
  SELECT d.doc_id, COALESCE(g.degree, CAST(0 AS BIGINT)) AS degree
  FROM documents d LEFT JOIN deg g ON d.doc_id = g.doc_id)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM alld GROUP BY degree
ORDER BY degree"""

  /** 100 TB mode of [[dedupNgram]]: candidate BLOCKING keys on the
   *  8-byte integer gram id (`idFamily`, default the SQL-reproducible
   *  `"poly"`) instead of the gram string — document frequency,
   *  the rare filter, and the inverted-index pair join all shuffle
   *  fixed-width longs, and gram TEXT never enters an exchange until
   *  verification. At corpus scale that is the difference between
   *  shuffling ~8 bytes and ~50+ bytes per shingle row on the
   *  heaviest join of the family. VERIFICATION is unchanged — exact
   *  Jaccard over the true gram strings — so a gid collision can only
   *  add a (rejected) candidate or, rarely, inflate a rare gram's df
   *  past `maxDf` and lose its blocking power: the same probabilistic
   *  recall contract banded MinHash already has, mirrored bit-exactly
   *  by the oracle (the SQL computes identical poly ids, so identical
   *  collisions). */
  def dedupNgramFast(docs: DataFrame, maxDf: Long = 5L,
                     minJaccard: Double = 0.2,
                     idFamily: String = "poly",
                     precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = cachedOrStore(docs, precomputedShingles)
    val shId = shingleIds(sh, idFamily)
    val df = shId.groupBy("gid").agg(count(lit(1)).as("df_cnt"))
    val rare = df.filter(col("df_cnt") <= maxDf).select("gid")
    val rareSh = shId.join(rare, "gid")
    val cands = rareSh.select(col("gid"), col("doc_id").as("doc_a"))
      .join(rareSh.select(col("gid"), col("doc_id").as("doc_b")), "gid")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    withJaccard(cands, sh)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter_n"), col("n_a"),
        col("n_b"), r4(col("jaccard")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupNgramFastOracle: String =
    "WITH RECURSIVE " + shinglesCte.trim + "," + polyShidCte + """,
dfreq AS (SELECT gid, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shid GROUP BY gid),
rare AS (SELECT gid FROM dfreq WHERE df_cnt <= 5),
raresh AS (SELECT s.doc_id, s.gid FROM shid s JOIN rare r ON s.gid = r.gid),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM raresh a JOIN raresh b ON a.gid = b.gid AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT c.doc_a, c.doc_b, i.inter_n, sa.n AS n_a, sb.n AS n_b,
       FLOOR((i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM cands c
JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2
ORDER BY c.doc_a, c.doc_b"""

  /** Cross-source duplication matrix — WHERE the near-dup mass comes
   *  from: verified [[dedupNgram]] pairs rolled up by (source, source),
   *  normalized by the population of each source pair, so a mirror
   *  site or syndication feed lights up as a hot cell regardless of
   *  its size. The governance view a corpus curator reads before
   *  deciding which source to drop or down-weight (dropping one side
   *  of a hot CROSS-source cell removes the duplication; dropping a
   *  hot diagonal cell means the source self-duplicates). Shape at
   *  scale: the pair set is orders of magnitude smaller than the
   *  corpus; labeling joins key on doc_id, the rollup collapses to
   *  source-pair cardinality, and the per-source denominators join
   *  back broadcast. `max_jaccard` (max over already-rounded values)
   *  is aggregation-order exact where a float mean would not be. */
  def dupSourceMatrix(docs: DataFrame, maxDf: Long = 5L,
                      minJaccard: Double = 0.2,
                      precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val pairs = dedupNgram(docs, maxDf, minJaccard, precomputedShingles)
    val src = docs.select(col("doc_id"), col("source"))
    val perSource = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val labeled = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("jaccard"))
    labeled.groupBy("source_a", "source_b").agg(
        count(lit(1)).as("n_pairs"),
        max("jaccard").as("max_jaccard"))
      .join(broadcast(perSource.select(col("source").as("source_a"),
        col("n_docs").as("docs_a"))), "source_a")
      .join(broadcast(perSource.select(col("source").as("source_b"),
        col("n_docs").as("docs_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("docs_a"), col("docs_b"), col("max_jaccard"),
        r4(col("n_pairs") * lit(1.0) /
          when(col("source_a") === col("source_b"),
            col("docs_a") * (col("docs_a") - lit(1)) / lit(2))
            .otherwise(col("docs_a") * col("docs_b"))).as("pair_rate"))
      .orderBy("source_a", "source_b")
  }

  val dupSourceMatrixOracle: String = "WITH " + shinglesCte + "," + ngramVerifiedCte + """,
src AS (SELECT doc_id, source FROM documents),
labeled AS (
  SELECT LEAST(sa.source, sb.source) AS source_a,
         GREATEST(sa.source, sb.source) AS source_b,
         FLOOR((v.inter_n * 1.0 / (v.n_a + v.n_b - v.inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
  FROM verified v
  JOIN src sa ON v.doc_a = sa.doc_id
  JOIN src sb ON v.doc_b = sb.doc_id),
per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
cells AS (
  SELECT source_a, source_b,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         MAX(jaccard) AS max_jaccard
  FROM labeled GROUP BY source_a, source_b)
SELECT c.source_a, c.source_b, c.n_pairs,
       pa.n_docs AS docs_a, pb.n_docs AS docs_b, c.max_jaccard,
       FLOOR((c.n_pairs * 1.0 /
              (CASE WHEN c.source_a = c.source_b
                    THEN pa.n_docs * (pa.n_docs - 1) / 2
                    ELSE pa.n_docs * pb.n_docs END)) * 10000.0 + 0.5) / 10000.0 AS pair_rate
FROM cells c
JOIN per_source pa ON c.source_a = pa.source
JOIN per_source pb ON c.source_b = pb.source
ORDER BY c.source_a, c.source_b"""

  /** Source-level overlap SKETCH: one MinHash union signature per
   *  SOURCE (min of the per-doc min-hashes — min-of-mins IS the
   *  signature of the source's pooled gram set), compared pairwise at
   *  source-pair cardinality. `matches/16` estimates the Jaccard of
   *  the two sources' whole gram sets — the "are these two feeds the
   *  same corpus" triage that runs BEFORE paying for any pair join:
   *  [[dupSourceMatrix]] answers the same question exactly but via
   *  the verified near-dup pair set; this answers it from two
   *  partial-aggregating passes and a K²-bounded comparison, touching
   *  no doc pair at all. Shape at scale: per-doc signatures are the
   *  ONE existing partial-agg pass ([[minhashSigWide]]); the source
   *  rollup is a second map-side-combining min over |docs| rows; the
   *  pairwise stage is a broadcast self-join over K = |sources| rows
   *  (a nested-loop over a K-row broadcast — bounded by source
   *  cardinality, never corpus). Estimator determinism: the sketch
   *  IS the deliverable (not a sampled proxy of one), so the oracle
   *  reproduces it bit-for-bit from the same affine hash family. */
  def sourceOverlapSketch(docs: DataFrame, idFamily: String = "md5",
                          precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = precomputedShingles.getOrElse(shingles(docs))
    val sigWide = minhashSigWide(shingleIds(sh, idFamily))
    val minCols = (0 until NumHashes).map(j => min(col(s"mh$j")).as(s"mh$j"))
    val srcSig = sigWide
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source").agg(minCols.head, minCols.tail: _*)
      .join(docs.groupBy("source").agg(count(lit(1)).as("n_docs")), "source")
    val aSide = srcSig.select(col("source").as("source_a") +:
      col("n_docs").as("docs_a") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"a$j")): _*)
    val bSide = srcSig.select(col("source").as("source_b") +:
      col("n_docs").as("docs_b") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"b$j")): _*)
    val matchCnt = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    aSide.join(broadcast(bSide), col("source_a") < col("source_b"))
      .withColumn("matches", matchCnt)
      .select(col("source_a"), col("source_b"), col("docs_a"),
        col("docs_b"), col("matches"),
        r4(col("matches") * lit(1.0) / NumHashes).as("est_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Mirrors [[sourceOverlapSketch]]: the shared `sig` hash chain
   *  rolled up per source, pairwise match counting over the K-row
   *  source signatures. `matches/16` has <= 4 binary fraction digits,
   *  so the rounded decimal is exact in both engines. */
  val sourceOverlapSketchOracle: String = "WITH " + shinglesCte + """,
shid AS (SELECT s.doc_id, """ + gramIdSql + """ AS gid FROM shingle s),
hashes AS (
  SELECT j, 37 + 101 * j AS a, 17 + 257 * j AS b
  FROM (SELECT unnest(range(0, 16)) AS j)),
sig AS (
  SELECT s.doc_id, h.j, MIN((h.a * s.gid + h.b) % 1000003) AS mh
  FROM shid s CROSS JOIN hashes h
  GROUP BY s.doc_id, h.j),
srcsig AS (
  SELECT d.source, g.j, MIN(g.mh) AS mh
  FROM sig g JOIN documents d ON g.doc_id = d.doc_id
  GROUP BY d.source, g.j),
per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS matches
  FROM srcsig a JOIN srcsig b ON a.j = b.j AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT p.source_a, p.source_b, pa.n_docs AS docs_a, pb.n_docs AS docs_b,
       p.matches,
       FLOOR((p.matches * 1.0 / 16) * 10000.0 + 0.5) / 10000.0 AS est_jaccard
FROM pairs p
JOIN per_source pa ON p.source_a = pa.source
JOIN per_source pb ON p.source_b = pb.source
ORDER BY p.source_a, p.source_b"""

  /** Detector-agreement matrix: pairwise Jaccard between the PAIR SETS
   *  the three near-dup families emit (n-gram rarity blocking, MinHash
   *  LSH, SimHash bands) — the evidence behind "which detector(s) do
   *  we run at 100 TB": high agreement means one family suffices
   *  (run the cheapest), low agreement means the families see
   *  different duplication (union them and cluster). Per detector
   *  pair: each side's pair count, the common pairs, and
   *  common/(a+b−common). Shape: the three detectors share ONE
   *  shingle frame (the [[writeShingleStore]] reuse story), the venn
   *  rollup runs at PAIR cardinality (orders of magnitude below the
   *  corpus), and the 3-row detector frame joins broadcast. */
  def dedupPairVenn(docs: DataFrame,
                    precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Shared shingle STORE, bracket-scoped: the three detector
    // subtrees are independent, so their stages race a lazy cache
    // into tokenizing the corpus once per detector; the store
    // materializes once, every subtree scans parquet (see
    // withSharedShingles's scaladoc for why a store beats an
    // in-memory cache here), and the bracket deletes it once the
    // 3-row result is checkpointed.
    withSharedShingles(docs, precomputedShingles) { sh =>
      withDetectorPairSets(sh) { tagged =>
      // `tagged` arrives checkpoint-pinned: the 3 scans below (sizes +
      // both self-join sides) read pinned blocks, no cache needed
      val sizes = tagged.groupBy("det").agg(count(lit(1)).as("n"))
      val common = tagged.select(col("det").as("det_a"), col("doc_a"), col("doc_b"))
        .join(tagged.select(col("det").as("det_b"), col("doc_a"), col("doc_b")),
          Seq("doc_a", "doc_b"))
        .filter(col("det_a") < col("det_b"))
        .groupBy("det_a", "det_b").agg(count(lit(1)).as("common"))
      val detPairs = Seq(("minhash", "ngram"), ("minhash", "simhash"),
        ("ngram", "simhash")).toDF("det_a", "det_b")
      val out = detPairs
        .join(broadcast(sizes.select(col("det").as("det_a"), col("n").as("pairs_a"))),
          Seq("det_a"), "left")
        .join(broadcast(sizes.select(col("det").as("det_b"), col("n").as("pairs_b"))),
          Seq("det_b"), "left")
        .join(common, Seq("det_a", "det_b"), "left")
        .select(col("det_a"), col("det_b"),
          coalesce(col("pairs_a"), lit(0L)).as("pairs_a"),
          coalesce(col("pairs_b"), lit(0L)).as("pairs_b"),
          coalesce(col("common"), lit(0L)).as("common"))
        .withColumn("agreement",
          r4(col("common") * lit(1.0) /
            greatest(col("pairs_a") + col("pairs_b") - col("common"), lit(1L))))
        .orderBy("det_a", "det_b")
      out // the bracket checkpoints the 3 rows
      }
    }
  }

  /** The three family pair chains over the shared `shingle`/`shid`
   *  prefix, internals prefixed `ng_`/`mh_`/`sh_` to avoid CTE
   *  collisions; each pair set is the family oracle's arithmetic
   *  verbatim. Shared by [[dedupPairVennOracle]] and
   *  [[dedupTokenSavingsOracle]] so the detector semantics cannot
   *  drift between the two readouts. */
  private val detChainsCte: String = shinglesCte + """,
shid AS (SELECT s.doc_id, """ + gramIdSql + """ AS gid FROM shingle s),
ng_dfreq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shingle GROUP BY gram),
ng_rare AS (SELECT gram FROM ng_dfreq WHERE df_cnt <= 5),
ng_raresh AS (SELECT s.doc_id, s.gram FROM shingle s JOIN ng_rare r ON s.gram = r.gram),
ng_cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ng_raresh a JOIN ng_raresh b ON a.gram = b.gram AND a.doc_id < b.doc_id),
ng_sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
ng_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
ng_pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM ng_cands c
  JOIN ng_inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
  JOIN ng_sizes sa ON c.doc_a = sa.doc_id
  JOIN ng_sizes sb ON c.doc_b = sb.doc_id
  WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2),
mh_hashes AS (
  SELECT j, 37 + 101 * j AS a, 17 + 257 * j AS b
  FROM (SELECT unnest(range(0, 16)) AS j)),
mh_sig AS (
  SELECT s.doc_id, h.j, MIN((h.a * s.gid + h.b) % 1000003) AS mh
  FROM shid s CROSS JOIN mh_hashes h
  GROUP BY s.doc_id, h.j),
mh_bandsig AS (
  SELECT doc_id, j // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY j) AS bsig
  FROM mh_sig GROUP BY doc_id, j // 4),
mh_cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mh_bandsig a JOIN mh_bandsig b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
mh_pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM mh_cands c
  JOIN ng_inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
  JOIN ng_sizes sa ON c.doc_a = sa.doc_id
  JOIN ng_sizes sb ON c.doc_b = sb.doc_id
  WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2),
sh_bits AS (
  SELECT b, 37 + 101 * b AS a, 17 + 257 * b AS c
  FROM (SELECT unnest(range(0, 32)) AS b)),
sh_persum AS (
  SELECT s.doc_id, bt.b,
         SUM(CASE WHEN ((bt.a * s.gid + bt.c) % 1000003) % 2 = 1 THEN 1 ELSE -1 END) AS sm
  FROM shid s CROSS JOIN sh_bits bt
  GROUP BY s.doc_id, bt.b),
sh_fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN sm > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS fp
  FROM sh_persum GROUP BY doc_id),
sh_nib AS (
  SELECT doc_id, fp, bd.band, (fp >> (8 * bd.band)) & 255 AS nib
  FROM sh_fp, (SELECT unnest(range(0, 4)) AS band) bd),
sh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh_nib a JOIN sh_nib b
    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fp, b.fp)) <= 3)"""

  val dedupPairVennOracle: String = "WITH " + detChainsCte + """,
tagged AS (
  SELECT 'ngram' AS det, doc_a, doc_b FROM ng_pairs
  UNION ALL SELECT 'minhash', doc_a, doc_b FROM mh_pairs
  UNION ALL SELECT 'simhash', doc_a, doc_b FROM sh_pairs),
det_sizes AS (SELECT det, CAST(COUNT(*) AS BIGINT) AS n FROM tagged GROUP BY det),
det_common AS (
  SELECT a.det AS det_a, b.det AS det_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM tagged a JOIN tagged b
    ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b AND a.det < b.det
  GROUP BY a.det, b.det),
det_pairs(det_a, det_b) AS (
  VALUES ('minhash', 'ngram'), ('minhash', 'simhash'), ('ngram', 'simhash'))
SELECT p.det_a, p.det_b,
       COALESCE(na.n, 0) AS pairs_a,
       COALESCE(nb.n, 0) AS pairs_b,
       COALESCE(c.common, 0) AS common,
       FLOOR((COALESCE(c.common, 0) * 1.0 /
              GREATEST(COALESCE(na.n, 0) + COALESCE(nb.n, 0) - COALESCE(c.common, 0), 1))
             * 10000.0 + 0.5) / 10000.0 AS agreement
FROM det_pairs p
LEFT JOIN det_sizes na ON p.det_a = na.det
LEFT JOIN det_sizes nb ON p.det_b = nb.det
LEFT JOIN det_common c ON p.det_a = c.det_a AND p.det_b = c.det_b
ORDER BY p.det_a, p.det_b"""

  /** Per-detector precision/recall against the SEMANTIC detector —
   *  the cross-modal refinement of [[dedupPairVenn]] (which compares
   *  the lexical families with each other): treating
   *  [[Embeddings.dedupEmbedding]]'s verified cosine>=0.4 pair set as
   *  the reference, how much of what each lexical family flags is
   *  semantically confirmed (precision) and how much of the semantic
   *  set it recovers (recall). Low precision = the family flags
   *  boilerplate the embeddings consider distinct content; low recall
   *  = paraphrase duplication only the embeddings see — the two
   *  numbers that decide whether a 100 TB pipeline pays for the
   *  embedding pass. The reference is the embedding DETECTOR's output
   *  (banded LSH + exact verify), not an all-pairs ground truth — the
   *  honest comparison, since that detector is what a production
   *  pipeline would actually run (its own recall is measured by
   *  `ann_recall`/`embedding_threshold_sweep`). Pairs are compared on
   *  the doc universe that HAS embeddings (both endpoints semi-joined)
   *  so absent vectors can't read as disagreement.
   *
   *  Shape: the three lexical pair sets share ONE shingle store (the
   *  venn bracket); the semantic set is the embedding family's own
   *  bucketed pipeline; all joins and rollups run at PAIR cardinality;
   *  the 1-row semantic total joins as a broadcast crossJoin; 3-row
   *  output. */
  def detectorSemanticPr(docs: DataFrame, emb: DataFrame,
                         precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val truth = Embeddings.dedupEmbedding(emb)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        lit(1L).as("sem"))
      .localCheckpoint()
    val embIds = emb.select(col("vec_id"))
    withSharedShingles(docs, precomputedShingles) { sh =>
      withDetectorPairSets(sh) { allTagged =>
        // one embedding-id restriction over the pinned tagged union
        // (was one semi-join pair per detector)
        val tagged = allTagged
          .join(embIds.select(col("vec_id").as("doc_a")), Seq("doc_a"), "left_semi")
          .join(embIds.select(col("vec_id").as("doc_b")), Seq("doc_b"), "left_semi")
        val per = tagged.join(truth, Seq("doc_a", "doc_b"), "left")
          .groupBy("det").agg(
            count(lit(1)).as("det_pairs"),
            sum(coalesce(col("sem"), lit(0L))).as("tp"))
        val semN = truth.groupBy().agg(count(lit(1)).as("sem_pairs"))
        Seq("minhash", "ngram", "simhash").toDF("det")
          .join(per, Seq("det"), "left")
          .crossJoin(broadcast(semN))
          .select(col("det"),
            coalesce(col("det_pairs"), lit(0L)).as("det_pairs"),
            col("sem_pairs"),
            coalesce(col("tp"), lit(0L)).as("tp"))
          .withColumn("fp", col("det_pairs") - col("tp"))
          .withColumn("fn", col("sem_pairs") - col("tp"))
          .withColumn("precision", r4(col("tp") * lit(1.0)
            / greatest(col("det_pairs"), lit(1L))))
          .withColumn("recall", r4(col("tp") * lit(1.0)
            / greatest(col("sem_pairs"), lit(1L))))
          .orderBy("det")
      }
    }
  }

  /** Composes [[detChainsCte]] (the three lexical pair chains, the
   *  venn/token-savings arithmetic verbatim) with
   *  [[Embeddings.planeFpCte]] + the dedupEmbedding tail (re-spelled
   *  with a pr_ prefix against CTE collisions) — every detector's
   *  semantics rides its family oracle. */
  lazy val detectorSemanticPrOracle: String = "WITH " + detChainsCte + "," +
    Embeddings.planeFpCte + """,
pr_cands AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM nib a JOIN nib b ON a.band = b.band AND a.nibv = b.nibv
  WHERE a.vec_id < b.vec_id),
pr_dots AS (
  SELECT c.doc_a, c.doc_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM pr_cands c
  JOIN qv qa ON qa.vec_id = c.doc_a
  JOIN qv qb ON qb.vec_id = c.doc_b AND qb.i = qa.i
  GROUP BY c.doc_a, c.doc_b),
pr_sem AS (
  SELECT d.doc_a, d.doc_b
  FROM pr_dots d
  JOIN nr na ON d.doc_a = na.vec_id
  JOIN nr nb ON d.doc_b = nb.vec_id
  WHERE d.dot / (sqrt(na.nq) * sqrt(nb.nq)) >= 0.4),
pr_tagged AS (
  SELECT t.det, t.doc_a, t.doc_b FROM (
    SELECT 'ngram' AS det, doc_a, doc_b FROM ng_pairs
    UNION ALL SELECT 'minhash', doc_a, doc_b FROM mh_pairs
    UNION ALL SELECT 'simhash', doc_a, doc_b FROM sh_pairs) t
  JOIN (SELECT vec_id FROM embeddings) ea ON t.doc_a = ea.vec_id
  JOIN (SELECT vec_id FROM embeddings) eb ON t.doc_b = eb.vec_id),
pr_per AS (
  SELECT t.det,
         CAST(COUNT(*) AS BIGINT) AS det_pairs,
         CAST(SUM(CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM pr_tagged t LEFT JOIN pr_sem s
    ON t.doc_a = s.doc_a AND t.doc_b = s.doc_b
  GROUP BY t.det),
pr_semn AS (SELECT CAST(COUNT(*) AS BIGINT) AS sem_pairs FROM pr_sem),
pr_dets(det) AS (VALUES ('minhash'), ('ngram'), ('simhash'))
SELECT d.det,
       COALESCE(p.det_pairs, 0) AS det_pairs,
       n.sem_pairs,
       COALESCE(p.tp, 0) AS tp,
       COALESCE(p.det_pairs, 0) - COALESCE(p.tp, 0) AS fp,
       n.sem_pairs - COALESCE(p.tp, 0) AS fn,
       FLOOR((COALESCE(p.tp, 0) * 1.0 / GREATEST(COALESCE(p.det_pairs, 0), 1)) * 10000.0 + 0.5) / 10000.0 AS "precision",
       FLOOR((COALESCE(p.tp, 0) * 1.0 / GREATEST(n.sem_pairs, 1)) * 10000.0 + 0.5) / 10000.0 AS recall
FROM pr_dets d
LEFT JOIN pr_per p ON d.det = p.det
CROSS JOIN pr_semn n
ORDER BY d.det"""

  /** Token-savings ledger per dedup detector — the budget column next
   *  to [[dedupPairVenn]]'s agreement matrix: what each family (and
   *  their union) actually RECLAIMS, in the BPE-estimate token unit
   *  every shard/quota decision is denominated in. A document counts
   *  as dropped under the greedy keep-first rule the streaming family
   *  ships (later copy of an exact hash; `doc_b` — the later id — of
   *  any near-dup pair); `any` is the union drop set, the savings a
   *  pipeline running all four gates gets. Per detector: docs dropped,
   *  tokens dropped, corpus totals, dropped token fraction.
   *
   *  Shape: the three near-dup families share ONE shingle frame; the
   *  drop sets are pair-cardinality frames distinct-ed per detector,
   *  token mass joins against a narrow (doc_id, tok) projection, the
   *  rollup is one partial agg to 5 rows, totals join broadcast. */
  def dedupTokenSavings(docs: DataFrame,
                        precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    withSharedShingles(docs, precomputedShingles) { sh =>
      withDetectorPairSets(sh) { tagged =>
      val tok = docs.select(col("doc_id"), expr("(n_chars + 3) div 4").as("tok"))
      val totals = tok.agg(count(lit(1)).as("n_docs_total"),
        sum("tok").as("tokens_total"))
      val h = docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
      val firsts = h.groupBy("content_hash").agg(min("doc_id").as("first_id"))
      val exactDrops = h.join(firsts, "content_hash")
        .filter(col("doc_id") > col("first_id"))
        .select(lit("exact").as("det"), col("doc_id"))
      // per-det later-side drop sets in ONE distinct over the pinned
      // tagged union (det rides the key, so this equals the old
      // union-of-per-detector-distincts row for row)
      val base = exactDrops
        .union(tagged.select(col("det"), col("doc_b").as("doc_id")).distinct())
        .cache()
      base.count() // eager: consumed twice below (per-det + union rollup)
      val flagged = base.union(
        base.select(col("doc_id")).distinct().select(lit("any").as("det"), col("doc_id")))
      val dets = Seq("any", "exact", "minhash", "ngram", "simhash").toDF("det")
      val per = flagged.join(tok, "doc_id")
        .groupBy("det").agg(count(lit(1)).as("n_docs_dropped"),
          sum("tok").as("tokens_dropped"))
      val out = dets.join(per, Seq("det"), "left")
        .crossJoin(broadcast(totals))
        .select(col("det"),
          coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"),
          coalesce(col("tokens_dropped"), lit(0L)).as("tokens_dropped"),
          col("n_docs_total"), col("tokens_total"),
          r4(coalesce(col("tokens_dropped"), lit(0L)) * lit(1.0)
            / col("tokens_total")).as("dropped_frac"))
        .orderBy("det")
        .localCheckpoint() // pin the 5 rows, then drop the drop-set cache
      base.unpersist()
      out
      }
    }
  }

  /** [[detChainsCte]]'s pair sets verbatim + the exact-hash
   *  first-occurrence rule [[dedupExact]] uses; drop-set, token-mass,
   *  and fraction arithmetic mirror the Spark expressions. */
  val dedupTokenSavingsOracle: String = "WITH " + detChainsCte + """,
toks AS (SELECT doc_id, (n_chars + 3) // 4 AS tok FROM documents),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total,
         CAST(SUM(tok) AS BIGINT) AS tokens_total
  FROM toks),
eh AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
efirsts AS (SELECT content_hash, MIN(doc_id) AS first_id FROM eh GROUP BY content_hash),
base AS (
  SELECT 'exact' AS det, eh.doc_id
  FROM eh JOIN efirsts f ON eh.content_hash = f.content_hash
  WHERE eh.doc_id > f.first_id
  UNION SELECT 'ngram', doc_b FROM ng_pairs
  UNION SELECT 'minhash', doc_b FROM mh_pairs
  UNION SELECT 'simhash', doc_b FROM sh_pairs),
flagged AS (
  SELECT det, doc_id FROM base
  UNION ALL SELECT DISTINCT 'any' AS det, doc_id FROM base),
dets(det) AS (VALUES ('any'), ('exact'), ('minhash'), ('ngram'), ('simhash')),
per AS (
  SELECT f.det, CAST(COUNT(*) AS BIGINT) AS n_docs_dropped,
         CAST(SUM(t.tok) AS BIGINT) AS tokens_dropped
  FROM flagged f JOIN toks t ON f.doc_id = t.doc_id
  GROUP BY f.det)
SELECT d.det,
       COALESCE(p.n_docs_dropped, 0) AS n_docs_dropped,
       COALESCE(p.tokens_dropped, 0) AS tokens_dropped,
       t.n_docs_total, t.tokens_total,
       FLOOR((COALESCE(p.tokens_dropped, 0) * 1.0 / t.tokens_total)
             * 10000.0 + 0.5) / 10000.0 AS dropped_frac
FROM dets d CROSS JOIN totals t
LEFT JOIN per p ON d.det = p.det
ORDER BY d.det"""

  /** Drop-set PROVENANCE — the doc-level venn completing the
   *  detector-accounting triad ([[dedupPairVenn]] = pairwise
   *  agreement, [[dedupTokenSavings]] = per-detector budget, this =
   *  exact overlap structure): per detector COMBINATION (the sorted
   *  '+'-joined set of {exact, ngram, minhash, simhash} that flagged
   *  a doc), dropped docs and token mass. Reads as the audit log of
   *  a four-gate pipeline: mass in the 'exact+minhash+ngram+simhash'
   *  cell is safe to drop on any one detector's say-so; mass in a
   *  singleton cell exists ONLY because that detector runs — the
   *  marginal value of keeping it in the pipeline. Shape: the same
   *  shared-shingle drop sets as token_savings, one
   *  groupBy(doc_id).collect_set (drop-set cardinality, ≤4 rows per
   *  doc), one ≤15-row rollup. */
  def dropProvenance(docs: DataFrame,
                     precomputedShingles: Option[DataFrame] = None): DataFrame = {
    withSharedShingles(docs, precomputedShingles) { sh =>
      withDetectorPairSets(sh) { tagged =>
      val tok = docs.select(col("doc_id"), expr("(n_chars + 3) div 4").as("tok"))
      val h = docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
      val firsts = h.groupBy("content_hash").agg(min("doc_id").as("first_id"))
      val exactDrops = h.join(firsts, "content_hash")
        .filter(col("doc_id") > col("first_id"))
        .select(lit("exact").as("det"), col("doc_id"))
      // collect_set dedupes per (doc, det), so the pinned tagged union
      // drops in directly — no per-detector distinct needed
      val base = exactDrops
        .union(tagged.select(col("det"), col("doc_b").as("doc_id")))
      base.groupBy("doc_id")
        .agg(array_join(sort_array(collect_set(col("det"))), "+").as("combo"))
        .join(tok, "doc_id")
        .groupBy("combo")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
        .orderBy("combo")
        // the bracket pins the <=15 rows
      }
    }
  }

  /** [[detChainsCte]]'s pair sets + the exact-hash rule; the combo
   *  label is string_agg over the per-doc DISTINCT detector set with
   *  the same lexicographic order as Spark's array_sort. */
  val dropProvenanceOracle: String = "WITH " + detChainsCte + """,
toks AS (SELECT doc_id, (n_chars + 3) // 4 AS tok FROM documents),
eh AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
efirsts AS (SELECT content_hash, MIN(doc_id) AS first_id FROM eh GROUP BY content_hash),
base AS (
  SELECT 'exact' AS det, eh.doc_id
  FROM eh JOIN efirsts f ON eh.content_hash = f.content_hash
  WHERE eh.doc_id > f.first_id
  UNION SELECT 'ngram', doc_b FROM ng_pairs
  UNION SELECT 'minhash', doc_b FROM mh_pairs
  UNION SELECT 'simhash', doc_b FROM sh_pairs),
combos AS (
  SELECT doc_id, string_agg(det, '+' ORDER BY det) AS combo
  FROM base GROUP BY doc_id)
SELECT c.combo, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.tok) AS BIGINT) AS tokens
FROM combos c JOIN toks t ON c.doc_id = t.doc_id
GROUP BY c.combo ORDER BY c.combo"""

  /** Containment near-dup: pairs where the SMALLER document's shingle
   *  set is mostly inside the larger's — `inter / min(|A|, |B|)` —
   *  which catches excerpts, quotes, and template-plus-payload pages
   *  that symmetric Jaccard misses (a 30-gram doc fully contained in
   *  a 300-gram doc has J ≈ 0.1 but containment 1.0). Same rare-gram
   *  blocking and candidate-driven verification as [[dedupNgram]]. */
  def dedupContainment(docs: DataFrame, maxDf: Long = 5L,
                       minContainment: Double = 0.6,
                       precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = cachedOrStore(docs, precomputedShingles)
    val df = sh.groupBy("gram").agg(count(lit(1)).as("df_cnt"))
    val rare = df.filter(col("df_cnt") <= maxDf).select("gram")
    val rareSh = sh.join(rare, "gram")
    val cands = rareSh.select(col("gram"), col("doc_id").as("doc_a"))
      .join(rareSh.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    withJaccard(cands, sh)
      .withColumn("containment",
        col("inter_n") * lit(1.0) / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("inter_n"),
        col("n_a"), col("n_b"), r4(col("containment")).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupContainmentOracle: String = "WITH " + shinglesCte.trim + """,
dfreq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shingle GROUP BY gram),
rare AS (SELECT gram FROM dfreq WHERE df_cnt <= 5),
raresh AS (SELECT s.doc_id, s.gram FROM shingle s JOIN rare r ON s.gram = r.gram),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM raresh a JOIN raresh b ON a.gram = b.gram AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT c.doc_a, c.doc_b, i.inter_n, sa.n AS n_a, sb.n AS n_b,
       FLOOR((i.inter_n * 1.0 / LEAST(sa.n, sb.n)) * 10000.0 + 0.5) / 10000.0 AS containment
FROM cands c
JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE i.inter_n * 1.0 / LEAST(sa.n, sb.n) >= 0.6
ORDER BY c.doc_a, c.doc_b"""

  /** Incremental n-gram near-dup: find near-duplicates OF A NEW BATCH
   *  against an existing corpus + within the batch itself, WITHOUT
   *  re-verifying old-old pairs — the production dedup shape (the
   *  corpus grows daily; yesterday's pairs are already resolved).
   *  Document frequencies are computed over corpus+batch (so rarity
   *  is corpus-wide, same semantics as a full run); candidate
   *  GENERATION joins corpus-wide rare shingles against only the
   *  batch's rare shingles, so old-old pairs are never enumerated —
   *  the O(old²) term exists in neither generation nor verification.
   *  Output is exactly the full-run pair set restricted to
   *  batch-touching pairs.
   *
   *  Repeated-invocation mode (the [[graft.streaming.StreamingDedup]]
   *  loop, or a daily ingest job): re-shingling the corpus TEXT on
   *  every call is O(corpus) work per call, which diverges as the
   *  corpus grows. Pass `corpusShingles` (the maintained
   *  [[writeShingleStore]] frame — `corpus` text is then NEVER read)
   *  and `corpusGramDf` (a maintained `(gram, df_cnt)` frame; delta
   *  rows with duplicate grams are fine — they are folded by SUM, so
   *  an append-only per-batch delta store is a valid input) and the
   *  per-call work drops to O(batch shingles + store scans): no
   *  `word_ngrams` pass over the corpus, no corpus-wide re-count. */
  def dedupNgramIncremental(corpus: DataFrame, batch: DataFrame,
                            maxDf: Long = 5L,
                            minJaccard: Double = 0.2,
                            corpusShingles: Option[DataFrame] = None,
                            corpusGramDf: Option[DataFrame] = None): DataFrame = {
    val batchDocs = batch.select("doc_id", "text")
    // Cache the BATCH shingles (bounded by the incremental contract,
    // consumed by grams/df/candidates) — but NEVER the corpus-side
    // store union: in store mode the shingle store is already
    // materialized parquet, and caching state-cardinality gram rows
    // per call re-materializes O(state) strings into executor memory
    // (the sf10 probe measured the trigger 3.1x per 4x state — the
    // cache write + heap pressure, not the columnar scans it saved;
    // the round-8 store-vs-cache lesson again). Text mode (no store)
    // still caches: there the union subtree re-SHINGLES corpus text
    // per consumer, which is worse than the cache.
    val batchSh = shingles(batchDocs).cache()
    val shCached = corpusShingles.isEmpty
    val sh = corpusShingles match {
      case Some(cs) => cs.select("doc_id", "gram").unionByName(batchSh)
      case None => shingles(
        corpus.select("doc_id", "text").unionByName(batchDocs)).cache()
    }
    // Every candidate pair shares a BATCH gram, so df is only ever
    // consulted at the batch's grams: restrict the fold (store-delta
    // or counted) to them up front — the df term drops from
    // O(|vocab|) to O(|batch vocab|) per call, identical results.
    val batchGrams = batchSh.select("gram").distinct()
    val df = corpusGramDf match {
      case Some(cdf) => cdf.select(col("gram"), col("df_cnt"))
        .join(broadcast(batchGrams), Seq("gram"), "left_semi")
        .unionByName(batchSh
          .groupBy("gram").agg(count(lit(1)).as("df_cnt")))
        .groupBy("gram").agg(sum("df_cnt").as("df_cnt"))
      case None => sh.join(broadcast(batchGrams), Seq("gram"), "left_semi")
        .groupBy("gram").agg(count(lit(1)).as("df_cnt"))
    }
    // rare-AND-in-batch grams: batch-bounded, so the state shingle
    // frame is scanned + broadcast-filtered, never exchanged at state
    // cardinality on the gram key.
    val rareBatchGrams = df.filter(col("df_cnt") <= maxDf).select("gram")
    // r16: consumed twice (the rareShBatch broadcast side AND the left
    // side of the pair join) — uncached, each consumption re-scanned
    // the WHOLE shingle store behind the broadcast filter, so every
    // trigger paid the O(state) columnar scan twice for candidates
    // alone. The frame is rare-batch-gram-bounded (≤ maxDf docs per
    // batch gram — candidate-source cardinality, never the store), so
    // caching it is the pinnedVerify class of delta-sized cache, not
    // the forbidden state-store cache.
    // r17 (guide §6 / VERDICT item 5): the rare-batch-gram set is
    // BATCH-bounded, so collect it (the connectedComponentsBounded
    // driver-side precedent, same guard idiom) and filter the store
    // scan with a PUSHABLE In predicate instead of a broadcast
    // left-semi: PushedFilters now reaches the parquet footer, so a
    // gram-clustered compacted store ([[graft.streaming.StreamingDedup
    // .compactState]] sorts within partitions) row-group-skips the
    // non-matching bulk of the state at scale, and the trigger drops
    // the broadcast-exchange build job. Identical row set (the In list
    // IS the semi-join key set, distinct by construction — df is
    // grouped by gram). An adversarial over-bound batch falls back to
    // the broadcast semi-join.
    val rareList = rareBatchGrams.limit(RareGramPushdownMax + 1)
      .collect().map(_.getString(0))
    if (sys.env.contains("GRAFT_DEBUG_RARELIST"))
      System.err.println(s"[debug] rareList size = ${rareList.length}")
    val shTouch = (if (rareList.length <= RareGramPushdownMax)
        sh.filter(col("gram").isin(rareList.toIndexedSeq: _*))
      else sh.join(broadcast(rareBatchGrams), Seq("gram"), "left_semi"))
      .cache()
    val newIds = batch.select(col("doc_id")).distinct()
    // Every batch-touching pair has >=1 batch member, so the pair join
    // is (rare batch-gram shingles) x (BATCH rare shingles only) — the
    // batch restriction sits BELOW the pair join and the O(old²) bulk
    // never materializes. least/greatest restores the doc_a < doc_b
    // orientation regardless of which side the batch member landed on
    // (batch-batch pairs appear from both orientations; distinct folds
    // them).
    val rareShBatch = shTouch.join(broadcast(newIds), Seq("doc_id"), "left_semi")
    val cands = shTouch.select(col("gram"), col("doc_id").as("id_any"))
      .join(broadcast(rareShBatch
        .select(col("gram"), col("doc_id").as("id_new"))), "gram")
      .filter(col("id_any") =!= col("id_new"))
      .select(least(col("id_any"), col("id_new")).as("doc_a"),
              greatest(col("id_any"), col("id_new")).as("doc_b"))
      .distinct()
    val out = pinnedVerify(cands, sh) { (c, touched) =>
      withJaccard(c, touched, restrict = false)
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
    if (shCached) sh.unpersist()
    shTouch.unpersist()
    batchSh.unpersist()
    out
  }

  /** Oracle: the FULL pair set restricted to pairs touching the
   *  "batch" (harness split: doc_id >= 400) — equality proves the
   *  incremental path loses nothing a full run would find. */
  /** Incremental MinHash near-dup — the sketch-family twin of
   *  [[dedupNgramIncremental]], with a BETTER incremental story:
   *  min-hash signatures are per-document (no corpus-wide df in the
   *  blocking), so a new batch needs ONLY its own shingle + signature
   *  pass, and the result is bit-identical to the full run restricted
   *  to batch-touching pairs — not merely equal under frozen rarity.
   *  Candidate generation band-joins the batch's band signatures
   *  against corpus+batch bands with the batch restriction BELOW the
   *  pair join (the O(old²) bulk never enumerates); verification is
   *  the same exact-Jaccard pass.
   *
   *  Maintained-store mode: pass `corpusShingles` (the
   *  [[writeShingleStore]] frame, for verification) and
   *  `corpusSignatures` (the [[writeMinhashStore]] frame) and the
   *  per-call cost is O(batch) compute + two store scans — corpus
   *  TEXT is never read, and unlike the n-gram store there is no
   *  df-delta store to fold: the signature store appends
   *  per-document rows, the simplest possible incremental state. */
  def dedupMinhashIncremental(corpus: DataFrame, batch: DataFrame,
                              minJaccard: Double = 0.2,
                              idFamily: String = "md5",
                              corpusShingles: Option[DataFrame] = None,
                              corpusSignatures: Option[DataFrame] = None): DataFrame = {
    val batchSh = shingles(batch.select("doc_id", "text")).cache()
    // Store mode never caches the corpus shingles: the store is
    // materialized parquet, scanned at most twice, and caching
    // O(state) gram strings per call is the heap-pressure term the
    // sf10 probe billed to this trigger (see dedupNgramIncremental).
    val corpusShCached = corpusShingles.isEmpty
    val corpusSh = corpusShingles.map(_.select("doc_id", "gram"))
      .getOrElse(shingles(corpus.select("doc_id", "text")).cache())
    // r16: consumed twice (the union side of allBands AND the
    // broadcast batch-band side of the candidate join) — uncached,
    // the batch's shingle-id + 16-min signature agg ran twice per
    // call. Batch-bounded (one row per batch doc).
    val batchSig = minhashSigWide(shingleIds(batchSh, idFamily)).cache()
    val corpusSig = corpusSignatures
      .map(_.select(col("doc_id") +: (0 until NumHashes).map(j => col(s"mh$j")): _*))
      .getOrElse(minhashSigWide(shingleIds(corpusSh, idFamily)))
    val allBands = minhashBandSig(corpusSig.unionByName(batchSig))
    val batchBands = minhashBandSig(batchSig)
    // The batch side is the DELTA — bounded by the incremental
    // contract — so it broadcasts and the signature store side is
    // scanned without any state-cardinality exchange.
    val cands = allBands
      .select(col("band"), col("bsig"), col("doc_id").as("id_any"))
      .join(broadcast(batchBands
        .select(col("band"), col("bsig"), col("doc_id").as("id_new"))),
        Seq("band", "bsig"))
      .filter(col("id_any") =!= col("id_new"))
      .select(least(col("id_any"), col("id_new")).as("doc_a"),
              greatest(col("id_any"), col("id_new")).as("doc_b"))
      .distinct()
    val out = pinnedVerify(cands, corpusSh.unionByName(batchSh)) { (c, touched) =>
      withJaccard(c, touched, restrict = false)
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
    if (corpusShCached) corpusSh.unpersist()
    batchSig.unpersist()
    batchSh.unpersist()
    out
  }

  /** The per-doc wide signature frame (`doc_id, mh0..mh15`) — the
   *  append-only state [[dedupMinhashIncremental]]'s maintained-store
   *  mode reads instead of re-signing the corpus. */
  def minhashSignatures(docs: DataFrame, idFamily: String = "md5"): DataFrame =
    minhashSigWide(shingleIds(shingles(docs.select("doc_id", "text")), idFamily))

  /** Materialize [[minhashSignatures]] as a parquet store. */
  def writeMinhashStore(docs: DataFrame, path: String,
                        idFamily: String = "md5"): Unit =
    minhashSignatures(docs, idFamily).write.mode("overwrite").parquet(path)

  /** The FULL-run minhash chain with the batch restriction applied to
   *  the final pair set — valid as the incremental oracle because
   *  signatures are per-document: the incremental run's candidates
   *  and verdicts are exactly the full run's, restricted. */
  val dedupMinhashIncrementalOracle: String = "WITH " + shinglesCte + """,
shid AS (SELECT s.doc_id, """ + gramIdSql + " AS gid FROM shingle s)," +
    minhashCandsSql + """
SELECT c.doc_a, c.doc_b,
       FLOOR((i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM cands c
JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2
  AND (c.doc_a >= 400 OR c.doc_b >= 400)
ORDER BY c.doc_a, c.doc_b"""

  val dedupNgramIncrementalOracle: String = "WITH " + shinglesCte.trim + """,
dfreq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shingle GROUP BY gram),
rare AS (SELECT gram FROM dfreq WHERE df_cnt <= 5),
raresh AS (SELECT s.doc_id, s.gram FROM shingle s JOIN rare r ON s.gram = r.gram),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM raresh a JOIN raresh b ON a.gram = b.gram AND a.doc_id < b.doc_id
  WHERE a.doc_id >= 400 OR b.doc_id >= 400),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT c.doc_a, c.doc_b,
       FLOOR((i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM cands c
JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2
ORDER BY c.doc_a, c.doc_b"""

  /** MinHash + banded LSH near-dup: 16 affine min-hashes over gram ids,
   *  4 bands x 4 rows; candidate pairs share a full band signature
   *  (bucket join on (band, signature)); exact Jaccard verified.
   *
   *  Scale shape: the 16 min-hashes are computed in ONE partial-
   *  aggregating `groupBy(doc_id)` pass with 16 `min` columns — not a
   *  16x row blowup + re-aggregation — so the signature stage shuffles
   *  |docs| rows, not 16x|shingles|. Band signatures are a pure
   *  projection over the 16 columns. Candidate generation goes through
   *  [[saltedBucketPairs]] so a hot LSH bucket (boilerplate-heavy
   *  corpus) spreads over `salts` reducers instead of melting one. */
  def dedupMinhash(docs: DataFrame, minJaccard: Double = 0.2,
                   idFamily: String = "md5",
                   precomputedShingles: Option[DataFrame] = None,
                   numHashes: Int = NumHashes,
                   bands: Int = Bands): DataFrame = {
    val sh = cachedOrStore(docs, precomputedShingles)
    val shId = shingleIds(sh, idFamily)
    val cands =
      saltedBucketPairs(
        minhashBandSig(minhashSigWide(shId, numHashes), numHashes, bands),
        Seq("band", "bsig"), "doc_id")
    withJaccard(cands, sh)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash via the native WHOLE-SIGNATURE expression
   *  ([[graft.functions.MinhashSig]], `poly` family): signatures are
   *  a pure projection (`word_ngrams` → `minhash_sig` in one
   *  whole-stage-codegen'd Project — no gram explode, no 16-min
   *  partial agg, no exchange), band signatures derive in-row from
   *  the array, and ONLY the exact-Jaccard verify (which was never
   *  signature-dependent) still reads the shingle frame,
   *  candidate-driven. Buckets are bit-identical to
   *  `dedupMinhash(idFamily = "poly")` — `dedup_minhash_expr` shares
   *  [[dedupMinhashFastOracle]] verbatim, and MinhashSigSpec asserts
   *  per-document signature equality of the two paths. */
  def dedupMinhashExpr(docs: DataFrame, minJaccard: Double = 0.2,
                       precomputedShingles: Option[DataFrame] = None,
                       numHashes: Int = NumHashes,
                       bands: Int = Bands): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    val sh = cachedOrStore(docs, precomputedShingles)
    val sig = docs
      .select(col("doc_id"),
        call_function("minhash_sig",
          call_function("word_ngrams", col("text"), lit(3)),
          lit(numHashes)).as("sig"))
      .filter(col("sig").isNotNull)
    val bandStructs = (0 until bands).map { b =>
      val rows = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => col("sig").getItem(j).cast("string"))
      struct(lit(b.toLong).as("band"), concat_ws("-", rows: _*).as("bsig"))
    }
    val bandFrame = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("nb"))
      .select(col("doc_id"), col("nb.band").as("band"), col("nb.bsig").as("bsig"))
    val cands = saltedBucketPairs(bandFrame, Seq("band", "bsig"), "doc_id")
    withJaccard(cands, sh)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The aggregation-path `poly`-family wide signature frame
   *  (doc_id, mh0..mh{numHashes-1}) — exposed so MinhashSigSpec can
   *  assert per-document parity between the two signature paths at
   *  the default AND non-default widths. */
  def minhashPolySignatures(docs: DataFrame,
                            numHashes: Int = NumHashes): DataFrame =
    minhashSigWide(shingleIds(shingles(docs), "poly"), numHashes)

  /** The min-hash aggregate columns `mh0..mh{numHashes-1}` — exposed
   *  as a builder so [[withDetectorPairSets]] can co-compute them with
   *  the simhash votes in ONE groupBy pass. */
  private def minhashMinCols(numHashes: Int): Seq[Column] =
    (0 until numHashes).map { j =>
      min((col("gid") * lit(37L + 101L * j) + lit(17L + 257L * j)) % Prime)
        .as(s"mh$j")
    }

  /** doc_id + the min-hash columns `mh0..mh{numHashes-1}` — ONE
   *  partial-aggregating groupBy pass (|docs| rows shuffled, not
   *  numHashes x |shingles|). */
  private[pipeline] def minhashSigWide(shId: DataFrame,
                             numHashes: Int = NumHashes): DataFrame = {
    val minCols = minhashMinCols(numHashes)
    shId.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** (doc_id, band, bsig) — a pure projection+explode over the wide
   *  signature frame. */
  private[pipeline] def minhashBandSig(sigWide: DataFrame,
                             numHashes: Int = NumHashes,
                             bands: Int = Bands): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val rows = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => col(s"mh$j").cast("string"))
      struct(lit(b.toLong).as("band"), concat_ws("-", rows: _*).as("bsig"))
    }
    sigWide
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("nb"))
      .select(col("doc_id"), col("nb.band").as("band"), col("nb.bsig").as("bsig"))
  }

  /** EMPIRICAL banding sweep — the measured companion to the analytic
   *  S-curve ([[minhashScurve]] predicts P(candidate | J) from (r, b);
   *  this runs the actual corpus through each banding and counts):
   *  per config (bands × rows-per-band over the same 16-hash
   *  signature), the distinct candidate-pair count, how many verify
   *  at J ≥ `minJaccard`, and the realized precision — the table that
   *  picks the banding BEFORE a 100 TB run pays for a loose one.
   *  The signature frame computes ONCE (cached); each config is one
   *  band projection + bucket join + candidate-driven verify. The
   *  r=1 (16 one-value bands) config is deliberately excluded: a
   *  single shared min-hash value makes every hot gram's doc set a
   *  quadratic bucket — exactly the blowup the sweep exists to warn
   *  about, and the S-curve already prices it analytically. */
  def minhashBandSweep(docs: DataFrame, minJaccard: Double = 0.2,
                       idFamily: String = "md5",
                       precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = cachedOrStore(docs, precomputedShingles)
    val sigWide = minhashSigWide(shingleIds(sh, idFamily)).cache()
    // candidate count comes from the candidate frame itself (a
    // zero-intersection band collision IS a candidate the sweep must
    // bill); the verify chain inner-joins intersections, which is fine
    // for n_verified — a zero-inter pair can never clear minJaccard.
    val cached = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val perConfig = Seq(2, 4, 8).map { b =>
      val cands = saltedBucketPairs(minhashBandSig(sigWide, NumHashes, b),
        Seq("band", "bsig"), "doc_id").cache()
      cached += cands
      val nCands = cands.agg(count(lit(1)).as("n_candidates"))
      val nVer = withJaccard(cands, sh)
        .filter(col("jaccard") >= minJaccard)
        .agg(count(lit(1)).as("n_verified"))
      nCands.crossJoin(nVer)
        .select(lit(b.toLong).as("bands"),
          lit((NumHashes / b).toLong).as("rows_per_band"),
          col("n_candidates"), col("n_verified"))
    }
    val out = perConfig.reduce(_.unionByName(_))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_verified"),
        r4(col("n_verified") * lit(1.0)
          / greatest(col("n_candidates"), lit(1L))).as("precision"))
      .orderBy("bands")
      .localCheckpoint() // 3 rows; release the caches below
    cached.foreach(_.unpersist())
    sigWide.unpersist()
    out
  }

  /** The md5-family signature chain ([[detChainsCte]]'s mh_sig shape)
   *  swept over band widths 8/4/2 rows via `j // r`; candidates are
   *  DISTINCT pairs per config, verification shares one shingle
   *  inter/size chain. */
  val minhashBandSweepOracle: String = "WITH " + shinglesCte + """,
shid AS (SELECT s.doc_id, """ + gramIdSql + """ AS gid FROM shingle s),
mh_hashes AS (
  SELECT j, 37 + 101 * j AS a, 17 + 257 * j AS b
  FROM (SELECT unnest(range(0, 16)) AS j)),
mh_sig AS (
  SELECT s.doc_id, h.j, MIN((h.a * s.gid + h.b) % 1000003) AS mh
  FROM shid s CROSS JOIN mh_hashes h
  GROUP BY s.doc_id, h.j),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
cfgs(bands) AS (VALUES (2), (4), (8)),
bsig AS (
  SELECT c.bands, s.doc_id, s.j // (16 // c.bands) AS band,
         string_agg(CAST(s.mh AS VARCHAR), '-' ORDER BY s.j) AS bs
  FROM mh_sig s CROSS JOIN cfgs c
  GROUP BY c.bands, s.doc_id, s.j // (16 // c.bands)),
cands AS (
  SELECT DISTINCT a.bands, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bsig a JOIN bsig b
    ON a.bands = b.bands AND a.band = b.band AND a.bs = b.bs
       AND a.doc_id < b.doc_id),
scored AS (
  SELECT c.bands,
         COALESCE(i.inter_n, 0) * 1.0
           / (sa.n + sb.n - COALESCE(i.inter_n, 0)) AS jaccard
  FROM cands c
  LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id)
SELECT CAST(bands AS BIGINT) AS bands,
       CAST(16 // bands AS BIGINT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
       FLOOR((SUM(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END) * 1.0
              / GREATEST(COUNT(*), 1)) * 10000.0 + 0.5) / 10000.0 AS precision
FROM scored GROUP BY bands ORDER BY bands"""

  /** Empirical banding RECALL by true-Jaccard bucket — the other half
   *  of the calibration pair ([[minhashBandSweep]] measures realized
   *  precision per banding; this measures what the shipped banding
   *  MISSES, resolved by how similar the missed pairs actually are):
   *  on a fixed deterministic doc sample, ground truth = every
   *  within-sample pair at exact Jaccard ≥ `minJaccard` (gram-join
   *  brute force — pairs sharing no gram have J = 0 and can't be
   *  truth), candidates = the shipped 16×4 banding over the same
   *  sample, recall per r4-then-×10 Jaccard bucket. The empirical
   *  S-curve: borderline buckets (J ≈ threshold) are SUPPOSED to
   *  recall probabilistically — this table shows where the shipped
   *  banding's cliff actually sits on this corpus. Sample-bounded by
   *  the same contract as [[Embeddings.annRecall]]: truth cost is
   *  O(sampleSize²) worst case and the sample is a FIXED ABSOLUTE
   *  count at any corpus scale. */
  def minhashRecallSample(docs: DataFrame, sampleSize: Long = 2000L,
                          minJaccard: Double = 0.2,
                          idFamily: String = "md5",
                          runLen: Long = 50L): DataFrame = {
    // Fixed-SIZE sampling (round-11 verdict): a fixed FRACTION makes
    // the brute-force truth pass O(N²) at 100 TB; instead one corpus
    // count derives a block stride k = ceil(N / sampleSize) and the
    // sample keeps every k-th run of `runLen` CONSECUTIVE doc_ids —
    // ~sampleSize docs total regardless of corpus size, spread
    // uniformly over the id range, with id-close duplicate structure
    // surviving inside each run. Pair retention is still quadratic in
    // the kept fraction (both endpoints must survive) — the inherent
    // recall-eval trade — but the truth budget is now capped by
    // sampleSize, not by the corpus. The stride arithmetic is pure
    // integer, reproduced exactly by the oracle's COUNT(*) subquery.
    val n = docs.count()
    val k = math.max(1L, (n + sampleSize - 1L) / sampleSize)
    val sample = docs.filter(expr(s"(doc_id div $runLen) % $k") === 0L)
    val sh = shingles(sample).cache()
    val allPairs = sh.select(col("gram"), col("doc_id").as("doc_a"))
      .join(sh.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val truth = withJaccard(allPairs, sh)
      .filter(col("jaccard") >= minJaccard)
      // r4-then-x10 bucket edge discipline (quality_sweep precedent)
      .select(col("doc_a"), col("doc_b"),
        floor(floor(col("jaccard") * 10000.0 + 0.5) / 1000.0).cast("long")
          .as("j_bucket"))
    val cands = saltedBucketPairs(
        minhashBandSig(minhashSigWide(shingleIds(sh, idFamily))),
        Seq("band", "bsig"), "doc_id")
      .withColumn("hit", lit(1L))
    val out = truth.join(cands, Seq("doc_a", "doc_b"), "left")
      .groupBy("j_bucket")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("j_bucket"), col("n_true"), col("n_hit"),
        r4(col("n_hit") * lit(1.0) / col("n_true")).as("recall"))
      .orderBy("j_bucket")
      .localCheckpoint()
    sh.unpersist()
    out
  }

  /** Shares the shingle/gram-id/signature CTE shapes, restricted to
   *  the doc sample (fixed-size block stride: k = ceil(N/2000) from
   *  the same COUNT the Spark side broadcasts, runs of 50 ids);
   *  buckets by the identical r4-then-×10 edge rule. */
  val minhashRecallSampleOracle: String = "WITH " + shinglesCte + """,
stride AS (SELECT GREATEST((COUNT(*) + 1999) // 2000, 1) AS k FROM documents),
ssh AS (SELECT doc_id, gram FROM shingle WHERE (doc_id // 50) % (SELECT k FROM stride) = 0),
sshid AS (SELECT s.doc_id, """ + gramIdSql + """ AS gid FROM ssh s),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ssh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM ssh a JOIN ssh b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
truth AS (
  SELECT i.doc_a, i.doc_b,
         CAST(FLOOR(FLOOR((i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n)) * 10000.0 + 0.5)
              / 1000.0) AS BIGINT) AS j_bucket
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2),
mh_hashes AS (
  SELECT j, 37 + 101 * j AS a, 17 + 257 * j AS b
  FROM (SELECT unnest(range(0, 16)) AS j)),
mh_sig AS (
  SELECT s.doc_id, h.j, MIN((h.a * s.gid + h.b) % 1000003) AS mh
  FROM sshid s CROSS JOIN mh_hashes h
  GROUP BY s.doc_id, h.j),
bsig AS (
  SELECT doc_id, j // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY j) AS bs
  FROM mh_sig GROUP BY doc_id, j // 4),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bsig a JOIN bsig b
    ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id)
SELECT t.j_bucket, CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       FLOOR((SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             * 10000.0 + 0.5) / 10000.0 AS recall
FROM truth t
LEFT JOIN cands c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
GROUP BY t.j_bucket ORDER BY t.j_bucket"""

  /** Sketch-quality calibration: for every LSH candidate pair, the
   *  signature-estimated similarity (matching min-hash positions / 16)
   *  next to the exact shingle Jaccard and their absolute gap — the
   *  table that says whether 16 hashes x 4 bands is ENOUGH before the
   *  sketch is trusted at 100 TB (tighten hashes/bands when the err
   *  column is wide, loosen when it hugs zero). Zero-intersection
   *  band collisions are KEPT (left join; est > 0, true = 0) — those
   *  false positives are exactly what the table is for. Shape: the
   *  dedupMinhash candidate plan verbatim, one 16-term equality
   *  projection per pair, the same bucket-join discipline — no
   *  all-pairs scan anywhere. All three scores are single double
   *  expressions over exact integer counts. */
  def minhashCalibration(docs: DataFrame, idFamily: String = "md5",
                         precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = cachedOrStore(docs, precomputedShingles)
    val sigWide = minhashSigWide(shingleIds(sh, idFamily)).cache()
    val cands = saltedBucketPairs(minhashBandSig(sigWide),
      Seq("band", "bsig"), "doc_id")
    val aCols = (0 until NumHashes).map(j => col(s"mh$j").as(s"a$j"))
    val bCols = (0 until NumHashes).map(j => col(s"mh$j").as(s"b$j"))
    val matchCnt = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("gram")), Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_n"))
    val est = col("matches") * lit(1.0) / NumHashes
    val tru = col("inter_n") * lit(1.0) /
      (col("n_a") + col("n_b") - col("inter_n"))
    cands
      .join(sigWide.select(col("doc_id").as("doc_a") +: aCols: _*), "doc_a")
      .join(sigWide.select(col("doc_id").as("doc_b") +: bCols: _*), "doc_b")
      .withColumn("matches", matchCnt)
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("inter_n", coalesce(col("inter_n"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("matches"),
        r4(est).as("est_sim"), r4(tru).as("jaccard"),
        r4(abs(est - tru)).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Shared multiplication-chain SQL for x^n, n a power of two —
   *  `pow()` is not correctly rounded and differs across libm builds,
   *  but an IDENTICAL explicit multiplication tree evaluates
   *  bit-identically in Spark and DuckDB, which is what lets the
   *  analytic S-curve carry a hash-exact oracle. */
  private def powChain(x: String, n: Int): String =
    if (n == 1) x else s"(${powChain(x, n / 2)} * ${powChain(x, n / 2)})"

  /** The P(candidate | jaccard) projection for a (bands=w/r, rows=r)
   *  split of a `w`-hash signature: 1 - (1 - s^r)^b. One CASE on
   *  rows_per_band; the SAME string is compiled by both engines.
   *  `w` must be a power of two (the multiplication chain squares). */
  private def scurveCaseSql(numHashes: Int): String = {
    require(numHashes > 0 && (numHashes & (numHashes - 1)) == 0,
      s"scurve width must be a power of two, got $numHashes")
    "CASE rows_per_band " + scurveRows(numHashes).map { r =>
      val b = numHashes / r
      s"WHEN $r THEN 1.0 - ${powChain(s"(1.0 - ${powChain("s", r)})", b)}"
    }.mkString(" ", " ", " END")
  }

  /** Power-of-two rows-per-band values for a `w`-hash signature,
   *  widest rows first (matches the historical 16/8/4/2/1 order). */
  private def scurveRows(numHashes: Int): Seq[Int] =
    Iterator.iterate(numHashes)(_ / 2).takeWhile(_ >= 1).toSeq

  /** The ANALYTIC companion to [[minhashCalibration]]: the banding
   *  S-curve P(candidate | jaccard) = 1-(1-s^r)^b for every
   *  (bands, rows) factorization of the family's 16 hashes over a
   *  0.05-step jaccard grid — the table an engineer reads BEFORE
   *  committing bands x rows at 100 TB (calibration measures what
   *  the sketch did on this corpus; this says what any corpus gets:
   *  e.g. the default 4x4 split crosses P=0.5 only near j≈0.62, so
   *  banding is a high-similarity candidate filter and the 0.2-
   *  threshold operators owe their recall to the verify step's
   *  candidate set, not to banding alone — now visible in a query).
   *  Pure closed form: no corpus scan, 95 rows, and every double
   *  comes from the shared multiplication-chain SQL so the oracle is
   *  hash-exact. */
  def minhashScurve(spark: org.apache.spark.sql.SparkSession,
                    numHashes: Int = NumHashes): DataFrame = {
    import spark.implicits._
    val facs = scurveRows(numHashes).reverse
      .map(b => (b.toLong, (numHashes / b).toLong))
      .toDF("bands", "rows_per_band")
    facs.crossJoin(spark.range(1, 20).select(col("id").as("i")))
      .selectExpr("bands", "rows_per_band", "i * 1.0 / 20.0 AS s")
      .selectExpr("bands", "rows_per_band", "s",
        s"${scurveCaseSql(numHashes)} AS p")
      .select(col("bands"), col("rows_per_band"),
        r4(col("s")).as("jaccard"), r4(col("p")).as("p_candidate"),
        when(col("p") >= 0.5, 1L).otherwise(0L).as("above_half"))
      .orderBy("bands", "jaccard")
  }

  lazy val minhashScurveOracle: String = s"""
WITH f(bands, rows_per_band) AS (
  VALUES (CAST(1 AS BIGINT), CAST(16 AS BIGINT)), (2, 8), (4, 4), (8, 2), (16, 1)),
g AS (SELECT unnest(range(1, 20)) AS i),
c AS (SELECT f.bands, f.rows_per_band, g.i * 1.0 / 20.0 AS s FROM f, g),
p AS (SELECT bands, rows_per_band, s, ${scurveCaseSql(NumHashes)} AS p FROM c)
SELECT bands, rows_per_band,
       FLOOR(s * 10000.0 + 0.5) / 10000.0 AS jaccard,
       FLOOR(p * 10000.0 + 0.5) / 10000.0 AS p_candidate,
       CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS above_half
FROM p
ORDER BY bands, jaccard"""

  val minhashCalibrationOracle: String = "WITH " + shinglesCte + """,
shid AS (SELECT s.doc_id, """ + gramIdSql + " AS gid FROM shingle s)," +
    minhashCandsSql + """,
matches AS (
  SELECT c.doc_a, c.doc_b,
         CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS matches
  FROM cands c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
  GROUP BY c.doc_a, c.doc_b)
SELECT m.doc_a, m.doc_b, m.matches,
       FLOOR((m.matches * 1.0 / 16) * 10000.0 + 0.5) / 10000.0 AS est_sim,
       FLOOR((COALESCE(i.inter_n, 0) * 1.0 / (sa.n + sb.n - COALESCE(i.inter_n, 0)))
             * 10000.0 + 0.5) / 10000.0 AS jaccard,
       FLOOR(ABS(m.matches * 1.0 / 16
                 - COALESCE(i.inter_n, 0) * 1.0 / (sa.n + sb.n - COALESCE(i.inter_n, 0)))
             * 10000.0 + 0.5) / 10000.0 AS abs_err
FROM matches m
LEFT JOIN inter i ON m.doc_a = i.doc_a AND m.doc_b = i.doc_b
JOIN sizes sa ON m.doc_a = sa.doc_id
JOIN sizes sb ON m.doc_b = sb.doc_id
ORDER BY m.doc_a, m.doc_b"""

  /** Oracle for the SCALE-MODE MinHash (`idFamily = "poly"`): the
   *  [[polyShidCte]] reproduces the codegen'd poly_hash gram ids
   *  exactly, so the scale mode's signatures, bands, and verified
   *  pairs are checked bit-for-bit AT ANY SCALE FACTOR.
   *
   *  History: this key previously ran `idFamily = "xxhash"` against
   *  hash-family-independent ground truth (all pairs at exact
   *  Jaccard >= 0.2). That oracle silently also asserts 100% LSH
   *  RECALL on the corpus — true at sf0.01, but at sf0.1 one
   *  borderline pair (J barely over 0.2, per-band match probability
   *  ~J^4) missed all 4 bands: 255/256 rows. Banded LSH recall is
   *  probabilistic BY DESIGN at the threshold, so equality-with-
   *  ground-truth is the wrong invariant to gate on; family parity is
   *  exact. The xxhash family remains available (cheapest, oracle-
   *  opaque) and spec-covered (PipelineSpec scale-mode test). */
  lazy val dedupMinhashFastOracle: String =
    "WITH RECURSIVE " + shinglesCte.trim + "," + polyShidCte + "," +
      minhashTailSql

  /** CTE chain from `shid` to the LSH candidate pair set + the
   *  sizes/inter verify inputs — shared by the minhash pair oracles
   *  and [[minhashCalibrationOracle]] so the two can never drift. */
  private def minhashCandsSqlFor(numHashes: Int, bands: Int): String = {
    val rowsPerBand = numHashes / bands
    s"""
hashes AS (
  SELECT j, 37 + 101 * j AS a, 17 + 257 * j AS b
  FROM (SELECT unnest(range(0, $numHashes)) AS j)),
sig AS (
  SELECT s.doc_id, h.j, MIN((h.a * s.gid + h.b) % 1000003) AS mh
  FROM shid s CROSS JOIN hashes h
  GROUP BY s.doc_id, h.j),
bandsig AS (
  SELECT doc_id, j // $rowsPerBand AS band,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY j) AS bsig
  FROM sig GROUP BY doc_id, j // $rowsPerBand),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandsig a JOIN bandsig b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)"""
  }

  private[pipeline] lazy val minhashCandsSql: String = minhashCandsSqlFor(NumHashes, Bands)

  /** Pair-verify tail over [[minhashCandsSqlFor]]'s CTE chain for any
   *  (numHashes, bands) split — the verify itself is width-independent
   *  (exact shingle Jaccard); only the candidate recall changes. */
  private def minhashTailSqlFor(numHashes: Int, bands: Int): String =
    minhashCandsSqlFor(numHashes, bands) + minhashVerifyTail

  private val minhashVerifyTail: String = """
SELECT c.doc_a, c.doc_b,
       FLOOR((i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM cands c
JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2
ORDER BY c.doc_a, c.doc_b"""

  private lazy val minhashTailSql: String = minhashTailSqlFor(NumHashes, Bands)

  /** Oracle for the WIDE (32-hash / 8-band x 4-row) MinHash run — the
   *  round-10 width parameterization proved end-to-end through the
   *  DuckDB gate, not just by the MinhashSigSpec parity test: the
   *  affine family, banding split, and verified pair set are all
   *  re-derived in SQL at numHashes=32 and must match the codegen'd
   *  [[graft.functions.MinhashSig]] expression path bit-for-bit. A
   *  user buying more recall with a wider signature (the
   *  `minhash_scurve` table's whole point) runs exactly this shape. */
  lazy val dedupMinhashWideOracle: String =
    "WITH RECURSIVE " + shinglesCte.trim + "," + polyShidCte + "," +
      minhashTailSqlFor(32, 8)

  lazy val dedupMinhashOracle: String = "WITH " + shinglesCte + """,
shid AS (SELECT s.doc_id, """ + gramIdSql + " AS gid FROM shingle s)," +
    minhashTailSql

  /** SimHash near-dup: `fpBits`-bit majority fingerprint over gram-id
   *  hash bits; candidates share >=1 of 4 bands (exact for
   *  hamming <= 3 by pigeonhole at ANY width), verified with
   *  bit_count(xor). `fpBits = SimBitsWide` (64) is the corpus-scale
   *  setting — 16-bit bands keep bucket occupancy flat where the
   *  32-bit default's 256-value bands saturate (the sf10 probe,
   *  STRESS_SF1.md) — and under `idFamily = "poly"` it keeps a full
   *  bit-for-bit DuckDB oracle ([[dedupSimhashWideOracle]]). */
  def dedupSimhash(docs: DataFrame, maxHamming: Int = 3,
                   idFamily: String = "md5",
                   precomputedShingles: Option[DataFrame] = None,
                   fpBits: Int = SimBits): DataFrame = {
    require(fpBits % SimBands == 0, s"fpBits must be a multiple of $SimBands")
    val sh = cachedOrStore(docs, precomputedShingles)
    val fp = simhashFpWide(shingleIds(sh, idFamily), fpBits)
      .cache() // used for banding AND the per-side fp lookup below
    val cands = saltedBucketPairs(
      simhashNibbles(fp, fpBits / SimBands), Seq("band", "nib"), "doc_id")
    simhashVerify(cands, fp, maxHamming)
  }

  /** SimHash via the native WHOLE-FINGERPRINT expression
   *  ([[graft.functions.SimhashFp]], `poly` family): the signature
   *  pass is a pure projection — `word_ngrams` → `simhash_fp` inside
   *  one whole-stage-codegen'd Project, NO gram explode, NO
   *  per-(doc, bit) vote aggregation, NO exchange before banding —
   *  where [[dedupSimhash]] pays explode + a 32-column partial agg +
   *  a doc-keyed shuffle for the same bits. Gram-less docs (< 3
   *  tokens) are filtered exactly as the aggregation path drops them
   *  (no vote rows). Output is bit-identical to
   *  `dedupSimhash(idFamily = "poly")` — `dedup_simhash_expr` shares
   *  [[dedupSimhashFastOracle]] verbatim, and SimhashFpSpec asserts
   *  per-document fingerprint equality of the two paths. */
  /** The aggregation-path `poly`-family fingerprint frame
   *  (doc_id, fp) — exposed so SimhashFpSpec can assert per-document
   *  parity between the two fingerprint paths. */
  def simhashPolyFingerprints(docs: DataFrame): DataFrame =
    simhashFpWide(shingleIds(shingles(docs), "poly"))

  def dedupSimhashExpr(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val fp = simhashFingerprints(docs, "expr")
      .cache() // banding AND the per-side fp lookup
    val cands = saltedBucketPairs(simhashNibbles(fp), Seq("band", "nib"), "doc_id")
    simhashVerify(cands, fp, maxHamming)
  }

  /** The 32 signed bit-vote aggregate columns `s0..s31` and the
   *  fingerprint projection over them — builders shared by
   *  [[simhashFpWide]] and [[withDetectorPairSets]]'s combined
   *  signature pass. */
  private def simhashVoteCols: Seq[Column] = simhashVoteColsN(SimBits)
  private def simhashVoteColsN(bits: Int): Seq[Column] =
    (0 until bits).map { b =>
      sum(when(((col("gid") * lit(37L + 101L * b) + lit(17L + 257L * b)) % Prime) % 2 === 1,
        1L).otherwise(-1L)).as(s"s$b")
    }
  private def simhashFpCol: Column = simhashFpColN(SimBits)
  // disjoint powers of two: `+` never carries, so bit 63 landing in
  // the Long sign position is the intended bit pattern, not overflow
  private def simhashFpColN(bits: Int): Column =
    (0 until bits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** doc_id + the `bits`-bit majority fingerprint — ONE partial-
   *  aggregating pass with `bits` signed bit-vote sums as columns (not
   *  a row blowup); the fingerprint is then a pure projection. */
  private def simhashFpWide(shId: DataFrame, bits: Int = SimBits): DataFrame = {
    val voteCols = simhashVoteColsN(bits)
    shId.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), simhashFpColN(bits).as("fp"))
  }

  /** (doc_id, band, nib) band rows — a pure projection+explode over
   *  the fingerprint frame. Always [[SimBands]]=4 bands (pigeonhole:
   *  4 bands are exact for hamming <= 3 at ANY width); `bandBits` is
   *  the band width — 8 for the 32-bit default, 16 for the
   *  [[SimBitsWide]] scale mode, whose 65536-value bands are what
   *  keeps band-bucket occupancy (and so candidate count) flat as the
   *  corpus grows. The mask truncates the arithmetic shift's sign
   *  fill, so a bit-63 fingerprint bands correctly. */
  private def simhashNibbles(fp: DataFrame,
                             bandBits: Int = SimBandBits): DataFrame = {
    val mask = (1L << bandBits) - 1
    // Lambda-free banding (the embedding family's nibblesFromFp
    // discipline): explode over an array of codegen'd structs instead
    // of an interpreted transform(sequence(...)) lambda per fp row.
    val bands = (0 until SimBands).map { bd =>
      struct(lit(bd.toLong).as("band"),
        shiftright(col("fp"), bandBits * bd).bitwiseAND(lit(mask)).as("nib"))
    }
    fp.select(col("doc_id"), explode(array(bands: _*)).as("nb"))
      .select(col("doc_id"), col("nb.band").as("band"), col("nb.nib").as("nib"))
  }

  /** Hamming verify of an oriented candidate pair set against the
   *  fingerprint frame — band collisions are necessary, not
   *  sufficient, for hamming <= maxHamming. */
  private def simhashVerify(cands: DataFrame, fp: DataFrame,
                            maxHamming: Int): DataFrame =
    cands
      .join(fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), "doc_b")
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "fp_a", "fp_b", "hamming")
      .orderBy("doc_a", "doc_b")

  /** The per-doc fingerprint frame (`doc_id, fp`) — the append-only
   *  state [[dedupSimhashIncremental]]'s maintained-store mode reads
   *  instead of re-fingerprinting the corpus. ONE long per document:
   *  the cheapest incremental near-dup state in the family (minhash
   *  keeps 16 longs + the shingle store for verify; simhash verifies
   *  from the fingerprints themselves, so this frame is the WHOLE
   *  state). */
  /** `idFamily = "expr"` is the [[graft.functions.SimhashFp]]
   *  projection path — fingerprints BIT-IDENTICAL to `"poly"`
   *  (SimhashFpSpec), so a store written under either family serves
   *  triggers run under the other; the expr family just skips the
   *  explode + vote agg + exchange per batch. */
  def simhashFingerprints(docs: DataFrame, idFamily: String = "md5",
                          fpBits: Int = SimBits): DataFrame =
    idFamily match {
      case "expr" =>
        require(fpBits == SimBits,
          s"the native simhash_fp expression is $SimBits-bit; " +
            "use an aggregation-path family (poly/md5/xxhash) for fpBits=64")
        docs
          .select(col("doc_id"),
            call_function("word_ngrams", col("text"), lit(3)).as("grams"))
          .filter(size(col("grams")) > 0)
          .select(col("doc_id"),
            call_function("simhash_fp", col("grams")).as("fp"))
      case _ =>
        simhashFpWide(shingleIds(shingles(docs.select("doc_id", "text")),
          idFamily), fpBits)
    }

  /** Materialize [[simhashFingerprints]] as a parquet store. */
  def writeSimhashStore(docs: DataFrame, path: String,
                        idFamily: String = "md5",
                        fpBits: Int = SimBits): Unit =
    simhashFingerprints(docs, idFamily, fpBits)
      .write.mode("overwrite").parquet(path)

  /** A precomputed [[simhashFingerprints]] frame TAGGED with the
   *  family/width it was produced at, so a consumer can `require()`
   *  the tag matches its own parameters — a mismatched frame would
   *  otherwise yield wrong pairs (and, via the streaming path, a
   *  corrupted fp store) with no failure signal (ADVICE r16). */
  case class TaggedFingerprints(frame: DataFrame, idFamily: String,
                                fpBits: Int)

  /** Incremental SimHash near-dup — the third incremental family
   *  member ([[dedupNgramIncremental]], [[dedupMinhashIncremental]]),
   *  with the BEST incremental story of the three: fingerprints are
   *  per-document AND verification needs only the fingerprints (no
   *  shingle store at all), so the maintained state is one
   *  (doc_id, fp) long per corpus document and a new batch costs one
   *  shingle+fingerprint pass over ITSELF plus a band join against
   *  the store. Candidate generation joins corpus+batch nibbles
   *  against only the batch's nibbles — the batch restriction sits
   *  BELOW the pair join, the O(old²) bulk never enumerates — and
   *  the result is bit-identical to the full run restricted to
   *  batch-touching pairs.
   *
   *  Maintained-store mode: pass `corpusFingerprints` (the
   *  [[writeSimhashStore]] frame) and corpus TEXT is never read. */
  def dedupSimhashIncremental(corpus: DataFrame, batch: DataFrame,
                              maxHamming: Int = 3,
                              idFamily: String = "md5",
                              corpusFingerprints: Option[DataFrame] = None,
                              fpBits: Int = SimBits,
                              batchFingerprints: Option[TaggedFingerprints] = None): DataFrame = {
    val bandBits = fpBits / SimBands
    // r16: the batch fingerprint frame is consumed TWICE (the union
    // side of allFp AND the broadcast nibble side of the candidate
    // join) — uncached, the batch's whole shingle+vote pass ran twice
    // per call. Batch-bounded by the incremental contract, so the
    // cache is delta-sized (one long per batch doc), never state.
    // `batchFingerprints` lets a streaming caller that ALSO appends
    // the batch's fps to its store share ONE fingerprint pass
    // (StreamingSimhashDedup.processBatch) — the [[TaggedFingerprints]]
    // tag lets this call fail fast on a family/width mismatch instead
    // of silently producing wrong pairs (ADVICE r16).
    val batchFp = batchFingerprints
      .map { tf =>
        require(tf.idFamily == idFamily && tf.fpBits == fpBits,
          s"batchFingerprints produced at (${tf.idFamily}, ${tf.fpBits}) " +
            s"but dedupSimhashIncremental runs at ($idFamily, $fpBits)")
        tf.frame.select(col("doc_id"), col("fp"))
      }
      .getOrElse(simhashFingerprints(batch, idFamily, fpBits)).cache()
    val corpusFp = corpusFingerprints.map(_.select("doc_id", "fp"))
      .getOrElse(simhashFingerprints(corpus, idFamily, fpBits))
    val allFp = corpusFp.unionByName(batchFp).cache()
    // Batch nibbles broadcast (delta-bounded); the fingerprint store
    // side is scanned map-side, never exchanged at state cardinality
    // — and the verify reads only candidate endpoints' fingerprints.
    val cands = simhashNibbles(allFp, bandBits)
      .select(col("band"), col("nib"), col("doc_id").as("id_any"))
      .join(broadcast(simhashNibbles(batchFp, bandBits)
        .select(col("band"), col("nib"), col("doc_id").as("id_new"))),
        Seq("band", "nib"))
      .filter(col("id_any") =!= col("id_new"))
      .select(least(col("id_any"), col("id_new")).as("doc_a"),
              greatest(col("id_any"), col("id_new")).as("doc_b"))
      .distinct()
    val out = pinnedVerify(cands, allFp) { (c, touched) =>
      simhashVerify(c, touched, maxHamming)
    }
    allFp.unpersist()
    batchFp.unpersist()
    out
  }

  /** Everything downstream of `shid` is family-independent: the bit
   *  votes, fingerprint, banding, and verify read only (doc_id, gid).
   *  `candPred` injects an extra candidate predicate (the incremental
   *  oracle's batch restriction) into the SAME chain, so the full-run
   *  and incremental oracles can never drift. */
  /** The fingerprint + band CTE prefix (bits → persum → fp → nib)
   *  over a `shid(doc_id, gid)` table — shared by every 32-bit simhash
   *  oracle tail AND [[simhashRecallSampleOracle]] (which swaps in its
   *  own truth/cands tail), so the vote/fingerprint/banding SQL can
   *  never drift between the dedup and calibration oracles. */
  private val simhashFpNibSql: String = s"""
bits AS (
  SELECT b, 37 + 101 * b AS a, 17 + 257 * b AS c
  FROM (SELECT unnest(range(0, 32)) AS b)),
persum AS (
  SELECT s.doc_id, bt.b,
         SUM(CASE WHEN ((bt.a * s.gid + bt.c) % 1000003) % 2 = 1 THEN 1 ELSE -1 END) AS sm
  FROM shid s CROSS JOIN bits bt
  GROUP BY s.doc_id, bt.b),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN sm > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS fp
  FROM persum GROUP BY doc_id),
nib AS (
  SELECT doc_id, fp, bd.band, (fp >> (8 * bd.band)) & 255 AS nib
  FROM fp, (SELECT unnest(range(0, 4)) AS band) bd)"""

  private def simhashTailSqlWith(candPred: String): String =
    simhashFpNibSql + s""",
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM nib a JOIN nib b
    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id$candPred)
SELECT doc_a, doc_b, fp_a, fp_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cands
WHERE bit_count(xor(fp_a, fp_b)) <= 3
ORDER BY doc_a, doc_b"""

  private val simhashTailSql: String = simhashTailSqlWith("")

  /** The WIDE (64-bit / 4x16-bit-band) tail: same vote family over
   *  bits 0..63. The fingerprint is assembled in HUGEINT (bit 63 is
   *  2^63 — past BIGINT's positive range) and mapped to the Long's
   *  two's-complement value, so xor/bit_count/shift-mask then operate
   *  on exactly Spark's bit pattern (the >> sign-fill is masked off
   *  by the band mask, identical under arithmetic or logical shift). */
  private val simhashTailSqlWide: String = s"""
bits AS (
  SELECT b, 37 + 101 * b AS a, 17 + 257 * b AS c
  FROM (SELECT unnest(range(0, 64)) AS b)),
persum AS (
  SELECT s.doc_id, bt.b,
         SUM(CASE WHEN ((bt.a * s.gid + bt.c) % 1000003) % 2 = 1 THEN 1 ELSE -1 END) AS sm
  FROM shid s CROSS JOIN bits bt
  GROUP BY s.doc_id, bt.b),
fpu AS (
  SELECT doc_id,
         SUM(CASE WHEN sm > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INTEGER)
                  ELSE CAST(0 AS HUGEINT) END) AS u
  FROM persum GROUP BY doc_id),
fp AS (
  SELECT doc_id,
         CAST(u - CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
                       THEN CAST(18446744073709551616 AS HUGEINT)
                       ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS fp
  FROM fpu),
nib AS (
  SELECT doc_id, fp, bd.band, (fp >> (16 * bd.band)) & 65535 AS nib
  FROM fp, (SELECT unnest(range(0, 4)) AS band) bd),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM nib a JOIN nib b
    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, fp_a, fp_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cands
WHERE bit_count(xor(fp_a, fp_b)) <= 3
ORDER BY doc_a, doc_b"""

  /** Oracle for the 64-bit scale mode under the `poly` family: the
   *  fingerprints, 16-bit bands, and hamming verdicts are re-derived
   *  in SQL bit-for-bit — the width that previously had only
   *  spec-level coverage now goes through the hash gate. */
  lazy val dedupSimhashWideOracle: String =
    "WITH RECURSIVE " + shinglesCte.trim + "," + polyShidCte + "," +
      simhashTailSqlWide

  /** The FULL-run simhash chain with the batch restriction applied to
   *  candidate generation — valid as the incremental oracle because
   *  fingerprints are per-document: the incremental run's candidates
   *  and verdicts are exactly the full run's, restricted. */
  val dedupSimhashIncrementalOracle: String = "WITH " + shinglesCte + """,
shid AS (SELECT s.doc_id, """ + gramIdSql + " AS gid FROM shingle s)," +
    simhashTailSqlWith("\n    AND (a.doc_id >= 400 OR b.doc_id >= 400)")

  val dedupSimhashOracle: String = "WITH " + shinglesCte + """,
shid AS (SELECT s.doc_id, """ + gramIdSql + " AS gid FROM shingle s)," +
    simhashTailSql

  /** Oracle for the 100 TB SimHash mode (`idFamily = "poly"`): the
   *  [[polyShidCte]] reproduces the codegen'd poly_hash gram ids
   *  exactly, so — unlike an xxhash64 family — the scale mode's
   *  fingerprints, bands, and hamming distances are verified
   *  bit-for-bit, not just row-counted. */
  val dedupSimhashFastOracle: String =
    "WITH RECURSIVE " + shinglesCte.trim + "," + polyShidCte + "," +
      simhashTailSql

  /** Empirical SimHash banding recall by TRUE hamming distance — the
   *  simhash analogue of [[minhashRecallSample]] (that one resolves
   *  missed pairs by true Jaccard; this one by true fingerprint
   *  distance): on the same fixed-size block-stride doc sample,
   *  ground truth = every within-sample pair at hamming ≤
   *  `maxHamming` over the shipped 32-bit fingerprints, candidates =
   *  the shipped 4×8-bit banding over the same sample, recall per
   *  exact hamming value. Rows 0..3 are the pigeonhole GUARANTEE
   *  (4 bands are exact for hamming ≤ 3 — recall 1.0 is a standing
   *  tripwire for the banding arithmetic); rows 4+ are the measured
   *  S-curve tail the guarantee says nothing about — how often a
   *  4-to-`maxHamming`-bit neighbor still collides in some band,
   *  which is what a deployment loosening `maxHamming` above 3
   *  actually buys without re-banding.
   *
   *  Truth cost contract = [[minhashRecallSample]]'s: one corpus
   *  count derives stride k = ceil(N/sampleSize), the sample is a
   *  FIXED ABSOLUTE size at any corpus scale, and the all-pairs
   *  hamming pass is O(sampleSize²) over an 8-byte-per-doc frame (the
   *  ~sample-row fingerprint side broadcasts; never a corpus
   *  self-join). */
  def simhashRecallSample(docs: DataFrame, sampleSize: Long = 2000L,
                          maxHamming: Int = 12,
                          runLen: Long = 50L): DataFrame = {
    val n = docs.count()
    val k = math.max(1L, (n + sampleSize - 1L) / sampleSize)
    val sample = docs.filter(expr(s"(doc_id div $runLen) % $k") === 0L)
    val fp = simhashFingerprints(sample).cache()
    val truth = fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"))
      .crossJoin(broadcast(
        fp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
    val cands = saltedBucketPairs(simhashNibbles(fp), Seq("band", "nib"),
        "doc_id")
      .withColumn("hit", lit(1L))
    val out = truth.join(cands, Seq("doc_a", "doc_b"), "left")
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("hamming"), col("n_true"), col("n_hit"),
        r4(col("n_hit") * lit(1.0) / col("n_true")).as("recall"))
      .orderBy("hamming")
      .localCheckpoint()
    fp.unpersist()
    out
  }

  /** Shares the stride rule with [[minhashRecallSampleOracle]] and the
   *  whole fingerprint/banding chain with the dedup oracles
   *  ([[simhashFpNibSql]] verbatim over the sample-restricted shid). */
  lazy val simhashRecallSampleOracle: String = "WITH " + shinglesCte + """,
stride AS (SELECT GREATEST((COUNT(*) + 1999) // 2000, 1) AS k FROM documents),
shid AS (SELECT s.doc_id, """ + gramIdSql + """ AS gid FROM shingle s
         WHERE (s.doc_id // 50) % (SELECT k FROM stride) = 0),""" +
    simhashFpNibSql + """,
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fp, b.fp)) <= 12),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM nib a JOIN nib b
    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id)
SELECT t.hamming, CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       FLOOR((SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             * 10000.0 + 0.5) / 10000.0 AS recall
FROM truth t
LEFT JOIN cands c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
GROUP BY t.hamming ORDER BY t.hamming"""

  /** Bloom-filter geometry for [[dedupExactIncremental]]. 2^20 bits =
   *  16 Ki 64-bit words (128 KiB broadcast); 5 probes give fp ~0.01 at
   *  ~100k corpus hashes per 2^20 bits — size `mBits` ~10x the corpus
   *  cardinality and re-derive. */
  val BloomBits = 1 << 20
  val BloomProbes = 5

  /** Corpus membership bloom as a PLAIN DATAFRAME of (word_idx, word)
   *  64-bit words — no driver-side sketch object, no UDF. Each doc's
   *  two xxhash64 seeds expand to `probes` double-hashed bit
   *  positions (h1 + i*h2 mod m — Kirsch-Mitzenmacher, so two text
   *  hashes fund any probe count); positions fold to words via
   *  `bit_or`. The frame is at most m/64 rows regardless of corpus
   *  size, mergeable by the same bit_or fold (append a delta frame,
   *  re-fold on read — the [[graft.streaming.StreamingDedup]] gram-df
   *  delta-store discipline), and broadcastable to probes. */
  /** Kirsch-Mitzenmacher probe i of a double-hashed bloom, in
   *  ANSI-safe arithmetic: both hashes reduce mod m BEFORE the affine
   *  combine, so `pmod(h,m) + i*pmod(h,m)` stays < (probes+1)*m and
   *  never wraps a long (Spark 4's ANSI mode throws on overflow
   *  instead of wrapping). Build and probe share this definition —
   *  that identity is the no-false-negative guarantee. */
  private def probePos(h1: Column, h2: Column, i: Column, mBits: Int): Column =
    probePos(h1, h2, i, lit(mBits.toLong))

  /** The one probe-position definition (column-typed m so the
   *  calibration sweep can grid over filter sizes); [[bloomWords]],
   *  [[dedupExactIncremental]], and [[bloomFpCalibration]] all probe
   *  through here. */
  private def probePos(h1: Column, h2: Column, i: Column, mBits: Column): Column =
    pmod(pmod(h1, mBits) + i * pmod(h2, mBits), mBits)

  def bloomWords(docs: DataFrame, mBits: Int = BloomBits,
                 probes: Int = BloomProbes): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, "mBits must be a positive multiple of 64")
    docs.select(xxhash64(col("text")).as("h1"),
        xxhash64(col("text"), lit(1)).as("h2"))
      .select(explode(sequence(lit(0), lit(probes - 1))).as("i"),
        col("h1"), col("h2"))
      .select(probePos(col("h1"), col("h2"), col("i"), mBits).as("pos"))
      .select(expr("pos div 64").cast("int").as("word_idx"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("mask"))
      .groupBy("word_idx").agg(expr("bit_or(mask)").as("word"))
  }

  /** Bloom false-positive CALIBRATION — "measure, don't guess" for
   *  the family's bloom geometry (the [[bloomWords]] scaladoc sizes
   *  by the fp~(1-e^(-kn/m))^k rule of thumb; this MEASURES the curve
   *  on the corpus's own key distribution, the discipline
   *  `minhash_calibration`/`ann_recall` apply to their sketches). A
   *  membership filter is built over the distinct word-3-gram
   *  SHINGLES of half the corpus (even doc ids — the gram universe is
   *  the family's real blooming candidate: large, text-derived,
   *  df-skewed; the testdata's 31-word vocabulary makes a word-level
   *  filter vacuous) at each candidate size m, then probed with the
   *  disjoint grams the other half contributes (guaranteed
   *  non-members = every positive is false); per m: member/set-bit
   *  counts (the load factor) and the measured fp rate. Keys are
   *  poly-hashed (h1 = poly_hash(gram), h2 = poly_hash(reversed
   *  gram)) so — unlike the xxhash64 production filter, whose
   *  geometry this shares through [[probePos]] — the DuckDB oracle
   *  reproduces every probe bit-exactly; the testdata is ASCII, where
   *  both engines reverse identically.
   *
   *  Shape: gram-cardinality frames (distinct-gram partial aggs),
   *  the position-set join keyed on (m, pos) — position cardinality
   *  is min(m, probes*|grams|) per grid point — and a |grid|-row
   *  rollup; the 1-row member count joins broadcast. */
  def bloomFpCalibration(docs: DataFrame,
                         mGrid: Seq[Int] = Seq(1 << 14, 1 << 17, 1 << 20),
                         probes: Int = BloomProbes): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mem = shingles(docs.filter(pmod(col("doc_id"), lit(2L)) === 0L))
      .select("gram").distinct()
    val neg = shingles(docs.filter(pmod(col("doc_id"), lit(2L)) === 1L))
      .select("gram").distinct()
      .join(mem, Seq("gram"), "left_anti")
    val grid = mGrid.map(_.toLong).toDF("m_bits")
    def positions(df: DataFrame) = df
      .select(col("gram"),
        call_function("poly_hash", col("gram")).as("h1"),
        call_function("poly_hash", reverse(col("gram"))).as("h2"))
      .crossJoin(broadcast(grid))
      .select(col("gram"), col("m_bits"), col("h1"), col("h2"),
        explode(sequence(lit(0L), lit((probes - 1).toLong))).as("i"))
      .select(col("gram"), col("m_bits"),
        probePos(col("h1"), col("h2"), col("i"), col("m_bits")).as("pos"))
    val memPos = positions(mem).select("m_bits", "pos").distinct().cache()
    val negAgg = positions(neg)
      .join(memPos.withColumn("present", lit(1L)), Seq("m_bits", "pos"), "left")
      .groupBy("m_bits", "gram")
      .agg(sum(coalesce(col("present"), lit(0L))).as("n_hit"))
      .groupBy("m_bits").agg(
        count(lit(1)).as("n_negatives"),
        sum(when(col("n_hit") === probes.toLong, 1L).otherwise(0L))
          .as("false_positives"))
    val setBits = memPos.groupBy("m_bits").agg(count(lit(1)).as("set_bits"))
    val memN = mem.agg(count(lit(1)).as("n_members"))
    grid.crossJoin(broadcast(memN))
      .join(setBits, Seq("m_bits"))
      .join(negAgg, Seq("m_bits"))
      .select(col("m_bits"), col("n_members"), col("set_bits"),
        col("n_negatives"), col("false_positives"),
        r4(col("false_positives") * lit(1.0)
          / greatest(col("n_negatives"), lit(1L))).as("fp_rate"))
      .orderBy("m_bits")
  }

  /** Rides [[shinglesCte]]; the per-gram poly hash re-derives through
   *  the [[polyShidCte]] power-table idiom (LEFT JOIN + COALESCE,
   *  >64-char grams truncate identically on both sides); probe
   *  arithmetic mirrors [[probePos]] term for term (hashes are
   *  nonnegative, so `%` = pmod). */
  val bloomFpCalibrationOracle: String = "WITH RECURSIVE " + shinglesCte + """,
pw AS (
  SELECT 1 AS i, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT i + 1, (v * 31) % 1000003 FROM pw WHERE i < 64),
mem AS (SELECT DISTINCT gram FROM shingle WHERE doc_id % 2 = 0),
neg AS (SELECT gram FROM (SELECT DISTINCT gram FROM shingle WHERE doc_id % 2 = 1) x
        WHERE gram NOT IN (SELECT gram FROM mem)),
hw AS (
  SELECT w.gram,
         CAST(COALESCE(SUM(ord(substr(w.gram, p.i, 1)) * p.v), 0) % 1000003 AS BIGINT) AS h1,
         CAST(COALESCE(SUM(ord(substr(reverse(w.gram), p.i, 1)) * p.v), 0) % 1000003 AS BIGINT) AS h2
  FROM (SELECT gram FROM mem UNION SELECT gram FROM neg) w
  LEFT JOIN pw p ON p.i <= LEAST(len(w.gram), 64)
  GROUP BY w.gram),
grid(m_bits) AS (VALUES (CAST(16384 AS BIGINT)), (CAST(131072 AS BIGINT)), (CAST(1048576 AS BIGINT))),
pr AS (SELECT unnest(range(0, 5)) AS i),
mpos AS (
  SELECT DISTINCT g.m_bits,
         ((h.h1 % g.m_bits) + pr.i * (h.h2 % g.m_bits)) % g.m_bits AS pos
  FROM mem m JOIN hw h ON m.gram = h.gram, grid g, pr),
npos AS (
  SELECT g.m_bits, n.gram, pr.i,
         ((h.h1 % g.m_bits) + pr.i * (h.h2 % g.m_bits)) % g.m_bits AS pos
  FROM neg n JOIN hw h ON n.gram = h.gram, grid g, pr),
nagg AS (
  SELECT m_bits,
         CAST(COUNT(*) AS BIGINT) AS n_negatives,
         CAST(SUM(CASE WHEN n_hit = 5 THEN 1 ELSE 0 END) AS BIGINT) AS false_positives
  FROM (
    SELECT np.m_bits, np.gram,
           SUM(CASE WHEN mp.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
    FROM npos np LEFT JOIN mpos mp
      ON np.m_bits = mp.m_bits AND np.pos = mp.pos
    GROUP BY np.m_bits, np.gram)
  GROUP BY m_bits),
sb AS (SELECT m_bits, CAST(COUNT(*) AS BIGINT) AS set_bits FROM mpos GROUP BY m_bits),
mn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members FROM mem)
SELECT g.m_bits, mn.n_members, s.set_bits, a.n_negatives, a.false_positives,
       FLOOR((a.false_positives * 1.0 / GREATEST(a.n_negatives, 1)) * 10000.0 + 0.5)
         / 10000.0 AS fp_rate
FROM grid g
CROSS JOIN mn
JOIN sb s ON g.m_bits = s.m_bits
JOIN nagg a ON g.m_bits = a.m_bits
ORDER BY g.m_bits"""

  /** Incremental EXACT dedup: which batch docs already exist verbatim
   *  in the corpus, without joining the whole batch against the
   *  corpus hash store. A broadcast [[bloomWords]] prefilter prunes
   *  the batch in-row first (a left join onto the <=m/64-word frame +
   *  a per-doc all-probes-set test); only bloom-POSITIVE docs reach
   *  the md5 verify join, so its probe side carries true dups plus
   *  the ~1% false positives instead of the full batch. Blooms never
   *  produce false negatives, so the verify join restores exactness —
   *  the final answer is independent of the filter, which is why this
   *  operator keeps a plain SQL oracle despite the xxhash64 probes.
   *
   *  Steady-state ingest shape at 100 TB: both state frames are
   *  incrementally maintained — the hash store by appending each
   *  accepted batch's hashes, the bloom by appending the batch's
   *  delta words (bit_or-fold on read) — so per-trigger cost is
   *  O(batch) probes + a verify join over the pruned candidate set;
   *  pass the maintained frames via `corpusWords` (must have been
   *  built with the SAME mBits/probes) and `corpusHashes`. Corpus
   *  text is scanned only when a state frame is missing (the
   *  from-scratch query form below). */
  def dedupExactIncremental(corpus: DataFrame, batch: DataFrame,
                            mBits: Int = BloomBits, probes: Int = BloomProbes,
                            corpusWords: Option[DataFrame] = None,
                            corpusHashes: Option[DataFrame] = None): DataFrame = {
    val words = corpusWords.getOrElse(bloomWords(corpus, mBits, probes))
      .groupBy("word_idx").agg(expr("bit_or(word)").as("word"))
    val b = batch.select(col("doc_id"), col("text"),
      xxhash64(col("text")).as("h1"), xxhash64(col("text"), lit(1)).as("h2"))
    val hits = b
      .select(col("doc_id"), explode(sequence(lit(0), lit(probes - 1))).as("i"),
        col("h1"), col("h2"))
      .select(col("doc_id"), probePos(col("h1"), col("h2"), col("i"), mBits).as("pos"))
      .select(col("doc_id"), expr("pos div 64").cast("int").as("word_idx"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("mask"))
      .join(broadcast(words), Seq("word_idx"), "left")
      .select(col("doc_id"),
        when(col("word").isNotNull &&
          col("word").bitwiseAND(col("mask")) =!= 0L, 1L).otherwise(0L).as("hit"))
      .groupBy("doc_id").agg(sum("hit").as("n_hits"))
      .filter(col("n_hits") === probes.toLong)
      .select("doc_id")
    val candidates = b.join(hits, "doc_id")
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    // maintained store form: one (doc_id, content_hash) row per
    // accepted corpus doc, count-folded here — corpus TEXT is not an
    // input when both state frames are supplied
    val hashCounts = corpusHashes
      .map(_.select("content_hash"))
      .getOrElse(corpus.select(md5(col("text")).as("content_hash")))
      .groupBy("content_hash").agg(count(lit(1)).as("n_corpus_copies"))
    val verified = candidates.join(hashCounts, "content_hash")
      .select(col("doc_id"), col("n_corpus_copies"))
    batch.select("doc_id").join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("n_corpus_copies"), lit(0L)) > 0L, 1L)
          .otherwise(0L).as("is_dup"),
        coalesce(col("n_corpus_copies"), lit(0L)).as("n_corpus_copies"))
      .orderBy("doc_id")
  }

  /** The bloom is answer-invariant (no false negatives + exact
   *  verify), so the oracle is the filter-free hash join over the
   *  same harness frames: corpus = documents, batch = shifted-id
   *  verbatim copies of every 5th doc (all true dups) plus
   *  tail-perturbed copies of the next residue class (all non-dups). */
  val dedupExactIncrementalOracle: String = """
WITH batch AS (
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zzz' AS text
  FROM documents WHERE doc_id % 5 = 1),
ch AS (
  SELECT md5(text) AS content_hash, CAST(COUNT(*) AS BIGINT) AS n_corpus_copies
  FROM documents GROUP BY 1)
SELECT b.doc_id,
       CAST(CASE WHEN ch.n_corpus_copies IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
       COALESCE(ch.n_corpus_copies, CAST(0 AS BIGINT)) AS n_corpus_copies
FROM batch b LEFT JOIN ch ON md5(b.text) = ch.content_hash
ORDER BY b.doc_id"""

  /** What a Jaccard cutoff COSTS — the dedup counterpart of
   *  `quality_sweep`'s filter-survival table: for each candidate
   *  threshold 0.10..0.50 (twentieths), the verified near-dup pairs a
   *  cutoff there would flag and the distinct documents they touch.
   *  The table a curation review reads before committing to
   *  `minJaccard`, instead of re-running the full dedup per setting.
   *  Every threshold test is the cross-multiplied INTEGER comparison
   *  `inter * 20 >= step * union` — no float-boundary membership
   *  anywhere (the qualityRules discipline). Shape: ONE candidate +
   *  intersection pass (identical to [[dedupNgram]]'s, floor-free),
   *  then a 9-way in-row grid explode over the PAIR frame (bounded by
   *  near-dup density, not the corpus) and two bucket-cardinality
   *  aggregates. */
  def dedupThresholdSweep(docs: DataFrame, maxDf: Long = 5L): DataFrame = {
    val sh = shingles(docs).cache()
    val df = sh.groupBy("gram").agg(count(lit(1)).as("df_cnt"))
    val rare = df.filter(col("df_cnt") <= maxDf).select("gram")
    val rareSh = sh.join(rare, "gram")
    val cands = rareSh.select(col("gram"), col("doc_id").as("doc_a"))
      .join(rareSh.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val scored = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("gram")), Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_n"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter_n"),
        (col("n_a") + col("n_b") - col("inter_n")).as("union_n"))
    val graded = scored
      .select(col("doc_a"), col("doc_b"), col("inter_n"), col("union_n"),
        explode(sequence(lit(2L), lit(10L))).as("step"))
      .filter(col("inter_n") * lit(20L) >= col("step") * col("union_n"))
    val pairsPerT = graded.groupBy("step").agg(count(lit(1)).as("n_pairs"))
    val docsPerT = graded
      .select(col("step"), explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("step").agg(countDistinct("doc_id").as("n_docs_flagged"))
    // full 2..10 grid with explicit 0 rows for thresholds no pair
    // survives (the embeddingThresholdSweep discipline)
    val grid = docs.sparkSession.range(2, 11).select(col("id").as("step"))
    grid.join(pairsPerT, Seq("step"), "left")
      .join(docsPerT, Seq("step"), "left")
      .select(r4(col("step") * lit(1.0) / lit(20.0)).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"))
      .orderBy("threshold")
  }

  /** Same floor-free candidate chain as [[ngramVerifiedCte]] minus its
   *  baked-in 0.2 WHERE; the grid and both counts mirror the
   *  cross-multiplied integer comparisons verbatim. */
  val dedupThresholdSweepOracle: String = "WITH " + shinglesCte + """,
dfreq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shingle GROUP BY gram),
rare AS (SELECT gram FROM dfreq WHERE df_cnt <= 5),
raresh AS (SELECT s.doc_id, s.gram FROM shingle s JOIN rare r ON s.gram = r.gram),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM raresh a JOIN raresh b ON a.gram = b.gram AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
scored AS (
  SELECT c.doc_a, c.doc_b, i.inter_n,
         sa.n + sb.n - i.inter_n AS union_n
  FROM cands c
  JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id),
graded AS (
  SELECT s.doc_a, s.doc_b, s.inter_n, s.union_n, g.step
  FROM scored s, unnest(generate_series(2, 10)) AS g(step)
  WHERE s.inter_n * 20 >= g.step * s.union_n),
ppt AS (SELECT step, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM graded GROUP BY step),
dpt AS (
  SELECT step, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_flagged
  FROM (SELECT step, doc_a AS doc_id FROM graded
        UNION ALL SELECT step, doc_b FROM graded) u
  GROUP BY step),
tsteps AS (SELECT unnest(range(2, 11)) AS step)
SELECT FLOOR((s.step * 1.0 / 20.0) * 10000.0 + 0.5) / 10000.0 AS threshold,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(d.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
FROM tsteps s
LEFT JOIN ppt p ON s.step = p.step
LEFT JOIN dpt d ON s.step = d.step
ORDER BY threshold"""

  /** K-minimum-values DISTINCT-GRAM cardinality sketch per source
   *  (Bar-Yossef et al. 2002), with its own error readout: at 100 TB
   *  "how many distinct shingles does this feed contribute" is the
   *  capacity question behind every df threshold and dedup budget,
   *  and an exact per-source COUNT(DISTINCT gram) is a full
   *  gram-keyed shuffle — the sketch answers it from bounded state
   *  while THIS operator also computes the exact count so the
   *  estimate ships with its measured relative error (the
   *  [[minhashCalibration]] "measure, don't guess" discipline).
   *  Two-stage scale shape: stage 1 folds the distinct (source,
   *  gram) frame to ≤ `buckets` per-bucket hash minima per source
   *  (ONE partial-aggregating groupBy — the scan state any engine
   *  keeps in a bounded array); stage 2 ranks those ≤256 rows per
   *  source (bounded window, never a corpus sort) and reads the
   *  k-th minimum: est = (k−1)·2³² div h_k — integer-exact, over
   *  the md5-prefix hash the `"md5"` gram-id family already uses.
   *  NOTE this is a BUCKETED-MINIMA variant of Bar-Yossef KMV, not
   *  the exact estimator: h_k is the k-th smallest of the per-bucket
   *  minima, so when two of the true k smallest hashes share a
   *  bucket only one survives, h_k inflates, and the estimate biases
   *  LOW — by at most the k²/(2·buckets) expected collision mass
   *  (k=64, buckets=256: ~8 of 64 minima displaced worst-case; the
   *  shipped rel_err_pm column MEASURES the realized error per
   *  source, which is the operator's whole point). The trade buys
   *  stage-1 state that is a fixed 256-slot array per source —
   *  mergeable by plain min, no priority queue in the partial agg.
   *  Sources whose gram sets are smaller than the sketch degrade to
   *  the observed bucket count (standard KMV |S|<k convention). */
  def kmvCardinality(docs: DataFrame, k: Int = 64, buckets: Int = 256,
                     precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = precomputedShingles.getOrElse(shingles(docs))
    val hashed = sh.join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "gram").distinct()
      .select(col("source"),
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long").as("h"))
    val st1 = hashed
      .groupBy(col("source"), (col("h") % buckets).as("bucket"))
      .agg(min("h").as("mh"), count(lit(1)).as("cnt"))
    val ranked = st1.withColumn("rk", row_number().over(
      Window.partitionBy("source").orderBy("mh", "bucket")))
    ranked.groupBy("source").agg(
        sum("cnt").as("exact_distinct"),
        count(lit(1)).as("n_minima"),
        max(when(col("rk") === k, col("mh"))).as("hk"))
      .select(col("source"), col("exact_distinct"),
        when(col("n_minima") >= k,
          expr(s"CAST(${(k - 1) * 4294967296L} AS BIGINT) div greatest(hk, CAST(1 AS BIGINT))"))
          .otherwise(col("n_minima")).as("kmv_est"))
      .select(col("source"), col("exact_distinct"), col("kmv_est"),
        expr("CASE WHEN exact_distinct > 0 THEN abs(kmv_est - exact_distinct) * CAST(1000 AS BIGINT) div exact_distinct ELSE CAST(0 AS BIGINT) END")
          .as("rel_err_pm"))
      .orderBy("source")
  }

  /** Identical two-stage fold; the estimator division is the same
   *  integer floor div in both engines. */
  val kmvCardinalityOracle: String = "WITH " + shinglesCte + """,
sg AS (
  SELECT DISTINCT d.source, s.gram
  FROM shingle s JOIN documents d ON s.doc_id = d.doc_id),
hashed AS (
  SELECT source,
         CAST(CAST(('0x' || substr(md5(gram), 1, 8)) AS UBIGINT) AS BIGINT) AS h
  FROM sg),
st1 AS (
  SELECT source, h % 256 AS bucket, MIN(h) AS mh,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY source, h % 256),
ranked AS (
  SELECT source, bucket, mh, cnt,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY mh, bucket) AS rk
  FROM st1),
agg AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS exact_distinct,
         CAST(COUNT(*) AS BIGINT) AS n_minima,
         MAX(CASE WHEN rk = 64 THEN mh END) AS hk
  FROM ranked GROUP BY source),
est AS (
  SELECT source, exact_distinct,
         CASE WHEN n_minima >= 64
              THEN CAST(63 * 4294967296 AS BIGINT) // GREATEST(hk, 1)
              ELSE n_minima END AS kmv_est
  FROM agg)
SELECT source, exact_distinct, CAST(kmv_est AS BIGINT) AS kmv_est,
       CAST(CASE WHEN exact_distinct > 0
                 THEN ABS(kmv_est - exact_distinct) * 1000 // exact_distinct
                 ELSE 0 END AS BIGINT) AS rel_err_pm
FROM est ORDER BY source"""

  /** Content-defined chunking (CDC) dedup ledger — the LBFS/FastCDC
   *  storage-dedup primitive (Muthitacharoen et al. SOSP 2001; Xia et
   *  al. ATC 2016) at word granularity: a chunk boundary opens at
   *  every word whose [[graft.functions.PolyHash]] value is divisible
   *  by `avgChunk` (a gear-hash cut rule — the boundary decision
   *  depends only on the word itself, so chunk identities survive
   *  insertions/deletions elsewhere in the document, which is exactly
   *  what fixed-width spans cannot do), giving expected-`avgChunk`-word
   *  variable-size chunks. Each chunk occurrence gets an
   *  order-encoding integer fingerprint `sum(gh_i * i)` over its
   *  words' poly hashes (i = 1-based offset IN the chunk — a plain
   *  commutative SUM whose terms already encode position, so the
   *  aggregate is order-independent and exact; gh < 2^20, offsets
   *  <= 4k tokens keep the sum far inside Long under ANSI). Keep-first
   *  accounting: the occurrence with the smallest (doc_id, chunk_idx)
   *  key is canonical, every other occurrence of the same (fp, len)
   *  is savable — the per-source ledger a chunk store / transport
   *  dedup layer reads to size itself.
   *
   *  Scale shape: tokenize+hash is one projection; the cut rule and
   *  in-chunk offsets are PER-DOCUMENT windows (hash-partitioned by
   *  doc_id, bounded by document length — embarrassingly parallel,
   *  nothing global); chunk identity then collapses through a
   *  (fp, len)-keyed partial agg at ~n_tokens/avgChunk cardinality —
   *  the same shuffle class as exact dedup's content-hash groupBy —
   *  and the final rollup is |sources| rows. No self-join anywhere. */
  /** The shared CDC chunking chain: (doc_id, [extras...], chunk_idx,
   *  fp, len, occ_key) chunk-occurrence frame — ONE definition of the
   *  cut rule + fingerprint shared by [[cdcChunkDedup]], the store
   *  builder, and the incremental path, so the three can never drift
   *  (the simhashFpWide/SimhashFp lockstep discipline). `extraCols`
   *  are passthrough per-document columns carried into the grouping
   *  (e.g. `source`). */
  private[graft] def cdcOccurrences(docs: DataFrame, avgChunk: Int,
                                    extraCols: Seq[String]): DataFrame = {
    val keep = Seq(col("doc_id")) ++ extraCols.map(col)
    val tok = docs
      .select(keep ++ Seq(
        posexplode(split(col("text"), " ")).as(Seq("pos0", "word"))): _*)
      .select(keep ++ Seq(
        (col("pos0") + 1).cast("long").as("pos"),
        call_function("poly_hash", col("word")).as("gh")): _*)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunked = tok.withColumn("chunk_idx",
      sum(when(pmod(col("gh"), lit(avgChunk.toLong)) === 0, 1L)
        .otherwise(0L)).over(wDoc))
    val wChunk = Window.partitionBy("doc_id", "chunk_idx").orderBy("pos")
    val occ = chunked
      .withColumn("off", row_number().over(wChunk).cast("long"))
      .groupBy(keep ++ Seq(col("chunk_idx")): _*)
      .agg(sum(col("gh") * col("off")).as("fp"), count(lit(1)).as("len"))
    // canonical occurrence key: doc_id * 2^24 + chunk_idx — a strict
    // total order on (doc_id, chunk_idx) in both engines provided
    // chunk_idx < 2^24 (tokens-per-doc < 16.7M — no real document
    // approaches it; the r14 shape's 65536 multiplier made >65535
    // tokens/doc silently collide into the NEXT doc's key space) and
    // doc_id < 2^39 (~550B docs — ~250x a 100 TB corpus at 50 KB/doc).
    // PropertySpec asserts the corpus bound so a testdata refresh
    // can't silently violate the encoding.
    occ.withColumn("occ_key",
      col("doc_id") * lit(CdcKeyMult) + col("chunk_idx"))
  }

  /** occ_key multiplier — see [[cdcOccurrences]]'s bound rationale.
   *  Lives in lockstep with the literal in [[cdcOccCteSql]] and
   *  [[cdcChunkDedupIncrementalOracle]]. */
  val CdcKeyMult: Long = 1L << 24

  /** CDC chunk-occurrence frame via the native [[graft.functions.CdcChunks]]
   *  expression — the 100 TB mode of [[cdcOccurrences]]: the whole
   *  cut-rule + fingerprint chain runs in ONE in-row codegen'd loop
   *  (scan → project → posexplode of the CHUNK set, ~1/avgChunk of
   *  the tokens, NO exchange), where the window chain posexplodes
   *  every token through two doc-partitioned windows. The emitted
   *  chunk ordinal is 0-based where the window chain's cut-count sum
   *  starts at 0 or 1 — but both are strictly increasing in document
   *  position, so occ_key (doc-major, position-minor) selects the
   *  SAME canonical occurrence per (fp, len) group and every is_dup
   *  verdict is identical: `cdc_chunk_dedup_expr` shares
   *  [[cdcChunkDedupOracle]] VERBATIM (the SimhashFp/MinhashSig
   *  discipline); CdcChunksSpec asserts per-doc (fp, len) sequence
   *  parity against the window chain. */
  private[graft] def cdcOccurrencesExpr(docs: DataFrame, avgChunk: Int,
                                        extraCols: Seq[String]): DataFrame = {
    val keep = Seq(col("doc_id")) ++ extraCols.map(col)
    docs
      .select(keep ++ Seq(
        posexplode(call_function("cdc_chunks", col("text"),
          lit(avgChunk))).as(Seq("chunk_idx0", "ch"))): _*)
      .select(keep ++ Seq(
        col("chunk_idx0").cast("long").as("chunk_idx"),
        col("ch.fp").as("fp"), col("ch.len").as("len")): _*)
      .withColumn("occ_key",
        col("doc_id") * lit(CdcKeyMult) + col("chunk_idx"))
  }

  /** The per-source duplication rollup shared by [[cdcChunkDedup]]
   *  and [[cdcChunkDedupExpr]] — keep-first canonical per chunk
   *  identity, then a |sources|-row ledger. */
  private def cdcChunkRollup(withKey: DataFrame): DataFrame = {
    val canon = withKey.groupBy("fp", "len")
      .agg(min(col("occ_key")).as("first_key"))
    val flagged = withKey.join(canon, Seq("fp", "len"))
      .withColumn("is_dup",
        when(col("occ_key") =!= col("first_key"), 1L).otherwise(0L))
    flagged.groupBy("source").agg(
        count(lit(1)).as("n_chunks"),
        sum("len").as("n_tokens"),
        sum("is_dup").as("dup_chunks"),
        sum(col("len") * col("is_dup")).as("dup_tokens"))
      .select(col("source"), col("n_chunks"), col("n_tokens"),
        col("dup_chunks"), col("dup_tokens"),
        r4(col("dup_tokens") * lit(1.0) / col("n_tokens"))
          .as("dup_token_share"))
      .orderBy("source")
  }

  def cdcChunkDedup(docs: DataFrame, avgChunk: Int = 8): DataFrame =
    cdcChunkRollup(cdcOccurrences(docs, avgChunk, Seq("source")))

  /** [[cdcChunkDedup]] through the native expression chain — same
   *  answer (shares the oracle verbatim), no per-token exchange. */
  def cdcChunkDedupExpr(docs: DataFrame, avgChunk: Int = 8): DataFrame =
    cdcChunkRollup(cdcOccurrencesExpr(docs, avgChunk, Seq("source")))

  /** Mirrors [[cdcChunkDedup]]: the per-WORD poly hash re-derives
   *  through [[polyShidCte]]'s power table (LEFT JOIN + COALESCE so a
   *  zero-length word hashes to 0 exactly like the expression);
   *  prepend `WITH RECURSIVE`. Must stay in lockstep with
   *  [[graft.functions.PolyHash]]. */
  /** The shared CDC chunk-occurrence CTE chain over `documents`
   *  (through `occ(doc_id, source, chunk_idx, fp, len, occ_key)`) —
   *  one SQL definition for every corpus-wide CDC oracle, mirroring
   *  the single [[cdcOccurrences]] builder on the Spark side. Prepend
   *  `WITH RECURSIVE`. */
  private lazy val cdcOccCteSql: String = s"""pw AS (
  SELECT 1 AS i, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT i + 1, (v * 31) % 1000003 FROM pw WHERE i < 64),
nums AS (SELECT unnest(range(1, (SELECT MAX(len(string_split(text, ' '))) + 1
                                 FROM documents))) AS i),
toked AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
tok AS (
  SELECT doc_id, source, CAST(i AS BIGINT) AS pos, toks[i] AS word
  FROM toked, nums WHERE i <= len(toks)),
wh AS (
  SELECT t.doc_id, t.source, t.pos,
         CAST(COALESCE(SUM(ord(substr(t.word, p.i, 1)) * p.v), 0) % 1000003 AS BIGINT) AS gh
  FROM tok t LEFT JOIN pw p ON p.i <= LEAST(len(t.word), 64)
  GROUP BY t.doc_id, t.source, t.pos),
chunked AS (
  SELECT doc_id, source, pos, gh,
         SUM(CASE WHEN gh % 8 = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_idx
  FROM wh),
occ AS (
  SELECT doc_id, source, chunk_idx,
         CAST(SUM(gh * off) AS BIGINT) AS fp,
         CAST(COUNT(*) AS BIGINT) AS len,
         CAST(MIN(doc_id * $CdcKeyMult + chunk_idx) AS BIGINT) AS occ_key
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_idx
                                     ORDER BY pos) AS off
        FROM chunked)
  GROUP BY doc_id, source, chunk_idx)"""

  lazy val cdcChunkDedupOracle: String = "WITH RECURSIVE " +
    cdcOccCteSql + """,
canon AS (SELECT fp, len, MIN(occ_key) AS first_key FROM occ GROUP BY fp, len),
flagged AS (
  SELECT o.source, o.len,
         CASE WHEN o.occ_key <> c.first_key THEN 1 ELSE 0 END AS is_dup
  FROM occ o JOIN canon c ON o.fp = c.fp AND o.len = c.len)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(len) AS BIGINT) AS n_tokens,
       CAST(SUM(is_dup) AS BIGINT) AS dup_chunks,
       CAST(SUM(len * is_dup) AS BIGINT) AS dup_tokens,
       FLOOR((SUM(len * is_dup) * 1.0 / SUM(len)) * 10000.0 + 0.5) / 10000.0 AS dup_token_share
FROM flagged GROUP BY source
ORDER BY source"""

  /** The most-REPEATED chunks, ranked — the span-granular boilerplate
   *  ledger ([[graft.pipeline.TextAnalysis]]'s `template_prefixes`
   *  detects repeated feed PREFIXES; this surfaces repeated material
   *  anywhere in the document: navigation blocks, license footers,
   *  quoted passages). Each row is one chunk identity with its
   *  occurrence count, distinct-document and distinct-source spread,
   *  total token mass, and a pointer to its canonical first
   *  occurrence (doc id decoded from the min occ key) so a reviewer
   *  can read the actual span. Single-occurrence chunks are excluded
   *  (nothing to strip). Rank ties break on (fp, len) — exact
   *  integers on both engines.
   *
   *  Scale shape: one chunk-keyed partial agg over [[cdcOccurrences]]
   *  (the exact-dedup shuffle class; COUNT DISTINCT expands to a
   *  two-level aggregate, still keyed on the chunk id), then a
   *  distributed TakeOrdered(k) — the rank window orders <= k rows,
   *  never the chunk universe. */
  def boilerplateChunks(docs: DataFrame, avgChunk: Int = 8,
                        k: Int = 50): DataFrame = {
    val occ = cdcOccurrences(docs, avgChunk, Seq("source"))
    val agg = occ.groupBy("fp", "len").agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct("doc_id").as("n_docs"),
        countDistinct("source").as("n_sources"),
        min("occ_key").as("first_key"))
      .filter(col("n_occurrences") > 1L)
    agg.orderBy(col("n_occurrences").desc, col("fp"), col("len")).limit(k)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("n_occurrences").desc, col("fp"), col("len")))
        .cast("long"))
      .select(col("rank"), col("fp"), col("len"), col("n_occurrences"),
        col("n_docs"), col("n_sources"),
        (col("n_occurrences") * col("len")).as("token_mass"),
        expr(s"first_key div $CdcKeyMult").as("first_doc_id"))
      .orderBy("rank")
  }

  /** Rides [[cdcOccCteSql]] — the one SQL definition of the chunk
   *  chain — so this oracle and [[cdcChunkDedupOracle]] cannot
   *  drift. */
  lazy val boilerplateChunksOracle: String = "WITH RECURSIVE " +
    cdcOccCteSql + s""",
agg AS (
  SELECT fp, len,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         MIN(occ_key) AS first_key
  FROM occ GROUP BY fp, len
  HAVING COUNT(*) > 1),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, fp, len) AS BIGINT) AS rank,
         fp, len, n_occurrences, n_docs, n_sources, first_key
  FROM agg)
SELECT rank, fp, len, n_occurrences, n_docs, n_sources,
       CAST(n_occurrences * len AS BIGINT) AS token_mass,
       CAST(first_key // $CdcKeyMult AS BIGINT) AS first_doc_id
FROM ranked WHERE rank <= 50
ORDER BY rank"""

  /** The policy half of [[boilerplateChunks]] — the chunk-granular
   *  trim ledger ([[graft.pipeline.TextAnalysis]]'s `span_trim` is
   *  the precedent at span granularity): strip every chunk whose
   *  identity appears in >= `minDocs` DISTINCT documents (the
   *  boilerplate criterion — cross-document spread, not mere
   *  repetition, so a doc's internal refrain survives) and account
   *  per document for chunks/tokens trimmed, tokens kept, and the
   *  kept ratio — the writer-side ledger a boilerplate-stripping
   *  curation pass emits.
   *
   *  Scale shape: one (fp, len)-keyed partial agg for the document
   *  frequency (countDistinct = two-level aggregate, still keyed on
   *  the chunk id), then one join back on the same key — both the
   *  exact-dedup shuffle class; the boiler set is NOT assumed
   *  broadcastable (at crawl scale, df >= 3 chunks are a material
   *  fraction of the chunk universe), so the flag join shuffles on
   *  the chunk id like the dedup canon join. Final rollup is
   *  doc-cardinality. */
  def cdcChunkTrim(docs: DataFrame, avgChunk: Int = 8,
                   minDocs: Int = 3): DataFrame = {
    val occ = cdcOccurrences(docs.select("doc_id", "text"), avgChunk, Nil)
    val boiler = occ.groupBy("fp", "len")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select(col("fp"), col("len"), lit(1L).as("boiler"))
    val flagged = occ.join(boiler, Seq("fp", "len"), "left")
    flagged.groupBy("doc_id").agg(
        count(lit(1)).as("n_chunks"),
        sum("len").as("n_tokens"),
        sum(when(col("boiler").isNotNull, 1L).otherwise(0L))
          .as("trimmed_chunks"),
        sum(when(col("boiler").isNotNull, col("len")).otherwise(0L))
          .as("trimmed_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("n_tokens"),
        col("trimmed_chunks"), col("trimmed_tokens"),
        (col("n_tokens") - col("trimmed_tokens")).as("kept_tokens"),
        r4((col("n_tokens") - col("trimmed_tokens")) * lit(1.0)
          / col("n_tokens")).as("kept_ratio"))
      .orderBy("doc_id")
  }

  /** Rides [[cdcOccCteSql]] like [[boilerplateChunksOracle]] — the
   *  one SQL chunk-chain definition. */
  lazy val cdcChunkTrimOracle: String = "WITH RECURSIVE " +
    cdcOccCteSql + """,
boiler AS (
  SELECT fp, len FROM occ GROUP BY fp, len
  HAVING COUNT(DISTINCT doc_id) >= 3),
per AS (
  SELECT o.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(o.len) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_chunks,
         CAST(SUM(CASE WHEN b.fp IS NOT NULL THEN o.len ELSE 0 END) AS BIGINT) AS trimmed_tokens
  FROM occ o LEFT JOIN boiler b ON o.fp = b.fp AND o.len = b.len
  GROUP BY o.doc_id)
SELECT doc_id, n_chunks, n_tokens, trimmed_chunks, trimmed_tokens,
       CAST(n_tokens - trimmed_tokens AS BIGINT) AS kept_tokens,
       FLOOR(((n_tokens - trimmed_tokens) * 1.0 / n_tokens) * 10000.0 + 0.5)
         / 10000.0 AS kept_ratio
FROM per ORDER BY doc_id"""

  /** CDC chunk-SIZE spectrum — "measure, don't guess" for the
   *  gear-cut geometry itself (the discipline [[bloomFpCalibration]]
   *  applies to the bloom and `minhash_calibration` to the sketch):
   *  the cut rule `poly_hash(word) % avgChunk == 0` PROMISES
   *  geometric chunk lengths with mean ≈ avgChunk, and every CDC
   *  consumer (dedup ledger, boilerplate ranking, snapshot diff,
   *  streaming store) inherits whatever the corpus's actual hash
   *  behavior delivers. Per floor(log2(len)) bucket: chunk count,
   *  token mass, shares of both — a spectrum skewed off geometric
   *  means the word distribution is gaming the cut rule (e.g. one
   *  hot boilerplate token that always/never cuts) and avgChunk
   *  needs re-tuning before the chunk stores are sized. Integer log2
   *  via `length(bin(len)) - 1` ([[gramDfSpectrum]]'s bucket rule).
   *
   *  Scale shape: chunks come off the native `cdc_chunks` expression
   *  (one in-row loop, no exchange), collapse map-side to ~log2(max
   *  len) buckets; the totals join is a 1-row broadcast. */
  def cdcChunkSizeHist(docs: DataFrame, avgChunk: Int = 8): DataFrame = {
    val occ = cdcOccurrencesExpr(docs.select("doc_id", "text"), avgChunk, Nil)
    val buckets = occ
      .select((length(expr("bin(len)")) - 1).cast("long").as("len_bucket"),
        col("len"))
      .groupBy("len_bucket").agg(
        count(lit(1)).as("n_chunks"), sum("len").as("n_tokens"))
    val totals = buckets.agg(sum("n_chunks").as("chunks_total"),
      sum("n_tokens").as("tok_total"))
    buckets.crossJoin(broadcast(totals))
      .select(col("len_bucket"), col("n_chunks"), col("n_tokens"),
        r4(col("n_chunks") * lit(1.0) / col("chunks_total")).as("chunk_share"),
        r4(col("n_tokens") * lit(1.0) / col("tok_total")).as("token_share"))
      .orderBy("len_bucket")
  }

  /** Rides [[cdcOccCteSql]] — the one SQL chunk-chain definition —
   *  with [[gramDfSpectrum]]'s bucket/totals tail. */
  lazy val cdcChunkSizeHistOracle: String = "WITH RECURSIVE " +
    cdcOccCteSql + """,
buckets AS (
  SELECT CAST(len(bin(len)) - 1 AS BIGINT) AS len_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(len) AS BIGINT) AS n_tokens
  FROM occ GROUP BY len(bin(len)) - 1),
totals AS (
  SELECT CAST(SUM(n_chunks) AS BIGINT) AS chunks_total,
         CAST(SUM(n_tokens) AS BIGINT) AS tok_total
  FROM buckets)
SELECT b.len_bucket, b.n_chunks, b.n_tokens,
       FLOOR((b.n_chunks * 1.0 / t.chunks_total) * 10000.0 + 0.5) / 10000.0 AS chunk_share,
       FLOOR((b.n_tokens * 1.0 / t.tok_total) * 10000.0 + 0.5) / 10000.0 AS token_share
FROM buckets b CROSS JOIN totals t
ORDER BY b.len_bucket"""

  /** Chunk-level SNAPSHOT DIFF — [[snapshotDiff]]'s crawl-refresh
   *  ledger at TRANSFER granularity: of the tokens in the docs ADDED
   *  since the previous snapshot, how many arrive in chunks whose
   *  identity the old snapshot already stores (re-served boilerplate,
   *  partial edits of known pages — bytes a chunk-addressed store or
   *  transport layer never pays again) vs genuinely new chunk mass.
   *  snapshotDiff prices whole-doc replays (exact content hash); a
   *  crawl refresh is mostly PARTIAL overlap — the page re-served
   *  with a new timestamp in the footer — which whole-doc hashing
   *  scores as 100% fresh and this ledger prices correctly (the
   *  rsync/CDC use case). Within-batch chunk repetition is NOT
   *  collapsed here ([[cdcChunkDedupIncremental]]'s admission grain
   *  owns that): the question is what this snapshot costs to
   *  transfer/store against the previous one.
   *
   *  Scale shape: the old snapshot reduces to its DISTINCT chunk
   *  identity set — exactly the [[cdcChunkStore]] frame, so a
   *  production run reads the maintained parquet store and never
   *  re-chunks the old corpus; added docs chunk through the native
   *  `cdc_chunks` expression (one in-row loop, no exchange); the
   *  membership probe is one (fp, len)-keyed left join — the
   *  exact-dedup shuffle class — and the rollup is |sources| rows. */
  def snapshotChunkDiff(oldDocs: DataFrame, newDocs: DataFrame,
                        avgChunk: Int = 8): DataFrame = {
    val oldChunks = cdcOccurrencesExpr(oldDocs.select("doc_id", "text"),
        avgChunk, Nil)
      .select("fp", "len").distinct()
      .withColumn("known", lit(1L))
    val addedOcc = cdcOccurrencesExpr(
      newDocs.join(oldDocs.select("doc_id"), Seq("doc_id"), "left_anti"),
      avgChunk, Seq("source"))
    addedOcc.join(oldChunks, Seq("fp", "len"), "left")
      .groupBy("source").agg(
        countDistinct("doc_id").as("n_added_docs"),
        count(lit(1)).as("n_chunks"),
        sum("len").as("n_tokens"),
        sum(when(col("known").isNotNull, 1L).otherwise(0L))
          .as("reused_chunks"),
        sum(when(col("known").isNotNull, col("len")).otherwise(0L))
          .as("reused_tokens"))
      .select(col("source"), col("n_added_docs"), col("n_chunks"),
        col("n_tokens"), col("reused_chunks"), col("reused_tokens"),
        (col("n_tokens") - col("reused_tokens")).as("fresh_tokens"),
        r4((col("n_tokens") - col("reused_tokens")) * lit(1.0)
          / col("n_tokens")).as("fresh_token_frac"))
      .orderBy("source")
  }

  /** Rides [[cdcOccCteSql]] — the one SQL chunk-chain definition. The
   *  harness drives old = even doc ids, new = the full corpus, so the
   *  added docs are the odd ids. */
  lazy val snapshotChunkDiffOracle: String = "WITH RECURSIVE " +
    cdcOccCteSql + """,
scd_oldset AS (SELECT DISTINCT fp, len FROM occ WHERE doc_id % 2 = 0),
scd_add AS (SELECT * FROM occ WHERE doc_id % 2 = 1),
scd_per AS (
  SELECT a.source,
         CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_added_docs,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(a.len) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN o.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reused_chunks,
         CAST(SUM(CASE WHEN o.fp IS NOT NULL THEN a.len ELSE 0 END) AS BIGINT) AS reused_tokens
  FROM scd_add a LEFT JOIN scd_oldset o ON a.fp = o.fp AND a.len = o.len
  GROUP BY a.source)
SELECT source, n_added_docs, n_chunks, n_tokens, reused_chunks, reused_tokens,
       CAST(n_tokens - reused_tokens AS BIGINT) AS fresh_tokens,
       FLOOR(((n_tokens - reused_tokens) * 1.0 / n_tokens) * 10000.0 + 0.5)
         / 10000.0 AS fresh_token_frac
FROM scd_per ORDER BY source"""

  /** The CDC chunk-identity store: the DISTINCT (fp, len) set of a
   *  corpus's chunk occurrences — the append-only state
   *  [[cdcChunkDedupIncremental]] probes instead of re-chunking corpus
   *  text. Append each accepted batch's frame; duplicate rows across
   *  appends are harmless (membership semantics — the fold is the
   *  `distinct()` at read). */
  def cdcChunkStore(docs: DataFrame, avgChunk: Int = 8): DataFrame =
    cdcOccurrencesExpr(docs.select("doc_id", "text"), avgChunk, Nil)
      .select("fp", "len").distinct()

  /** Materialize [[cdcChunkStore]] as parquet. */
  def writeCdcChunkStore(docs: DataFrame, path: String,
                         avgChunk: Int = 8): Unit =
    cdcChunkStore(docs, avgChunk).write.mode("overwrite").parquet(path)

  /** Incremental CDC chunk dedup — the ingest-time admission ledger:
   *  chunk ONLY the batch (the corpus is never re-tokenized), then
   *  flag each batch chunk whose identity (fp, len) already exists in
   *  the corpus chunk store OR in an earlier batch occurrence
   *  (keep-first within the batch by the same occ_key order the full
   *  run uses). Output is PER BATCH DOCUMENT — the admission decision
   *  grain — where the full-corpus operator reports per source.
   *
   *  Bit-identical to [[cdcChunkDedup]]'s accounting over
   *  corpus UNION batch restricted to batch rows, PROVIDED batch
   *  doc_ids sort after all corpus doc_ids (the append-only ingest
   *  contract: a corpus occurrence always precedes, so "in store" =
   *  "non-canonical"); the oracle runs exactly that full-run form.
   *
   *  Scale shape: chunking cost is O(batch) (projection + per-doc
   *  windows); the store probe is one hash join keyed on (fp, len) —
   *  the exact-dedup shuffle class — with the batch side bounded by
   *  the incremental contract. Maintained-store mode: pass
   *  `corpusChunks` ([[cdcChunkStore]]'s frame, distinct-folded here)
   *  and corpus text is not an input at all. */
  def cdcChunkDedupIncremental(corpus: DataFrame, batch: DataFrame,
                               avgChunk: Int = 8,
                               corpusChunks: Option[DataFrame] = None): DataFrame = {
    val store = corpusChunks.getOrElse(cdcChunkStore(corpus, avgChunk))
    // The batch occurrence frame is consumed three times (canonical
    // keys, probe keys, the flag join) and is bounded by the batch —
    // pin it once instead of re-running the chunking per consumer
    // (measured: the uncached triple chain dominated the sf10 trigger
    // constant). Same `graft.pin.results=false` test seam as
    // pinnedVerify so plan audits see the composed shape. Batch
    // chunking goes through the native cdc_chunks expression — chunk
    // identities bit-identical to the window chain (CdcChunksSpec)
    // with zero exchanges before the pin, which removes the two
    // doc-partitioned windows from every trigger's constant.
    val occRaw = cdcOccurrencesExpr(batch.select("doc_id", "text"), avgChunk, Nil)
    val occ =
      if (batch.sparkSession.conf.get("graft.pin.results", "true") == "false")
        occRaw
      else occRaw.localCheckpoint()
    val batchCanon = occ.groupBy("fp", "len")
      .agg(min(col("occ_key")).as("first_batch_key"))
    // Membership probe with the BATCH side broadcast: the chunk store
    // (token-scale — ~n_tokens/avgChunk rows, 37x the exact gate's
    // hash store) is SCANNED but never exchanged. The default
    // shuffled join grew the sf10 trigger 2.4x per 4x state (the
    // store-side exchange); this shape's growth term is the columnar
    // scan only, like the other families' delta stores. dupKeys is
    // bounded by the batch's distinct chunk count, so the second
    // broadcast is bounded by the incremental contract too. No
    // store-side distinct: membership semantics make duplicate store
    // rows harmless, and distinct-folding the store per trigger would
    // itself shuffle it.
    val batchKeys = occ.select("fp", "len").distinct()
    val dupKeys = store.select("fp", "len")
      .join(broadcast(batchKeys), Seq("fp", "len"), "left_semi")
      .distinct()
    val flagged = occ
      .join(batchCanon, Seq("fp", "len"))
      .join(broadcast(dupKeys
        .select(col("fp"), col("len"), lit(1L).as("in_corpus"))),
        Seq("fp", "len"), "left")
      .withColumn("is_dup",
        when(col("in_corpus").isNotNull
          || col("occ_key") =!= col("first_batch_key"), 1L).otherwise(0L))
    flagged.groupBy("doc_id").agg(
        count(lit(1)).as("n_chunks"),
        sum("len").as("n_tokens"),
        sum("is_dup").as("dup_chunks"),
        sum(col("len") * col("is_dup")).as("dup_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("n_tokens"),
        col("dup_chunks"), col("dup_tokens"),
        r4(col("dup_tokens") * lit(1.0) / col("n_tokens"))
          .as("dup_token_share"))
      .orderBy("doc_id")
  }

  /** The FULL-run CDC chain over corpus UNION batch, restricted to
   *  batch rows and aggregated per document — valid as the
   *  incremental oracle because batch ids (+1M/+2M shifts) sort after
   *  every corpus id, so full-run keep-first = store-membership +
   *  batch-internal keep-first (see [[cdcChunkDedupIncremental]]). */
  lazy val cdcChunkDedupIncrementalOracle: String = s"""WITH RECURSIVE
pw AS (
  SELECT 1 AS i, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT i + 1, (v * 31) % 1000003 FROM pw WHERE i < 64),
alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zzz' AS text
  FROM documents WHERE doc_id % 5 = 1),
nums AS (SELECT unnest(range(1, (SELECT MAX(len(string_split(text, ' '))) + 1
                                 FROM alldocs))) AS i),
toked AS (SELECT doc_id, string_split(text, ' ') AS toks FROM alldocs),
tok AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS word
  FROM toked, nums WHERE i <= len(toks)),
wh AS (
  SELECT t.doc_id, t.pos,
         CAST(COALESCE(SUM(ord(substr(t.word, p.i, 1)) * p.v), 0) % 1000003 AS BIGINT) AS gh
  FROM tok t LEFT JOIN pw p ON p.i <= LEAST(len(t.word), 64)
  GROUP BY t.doc_id, t.pos),
chunked AS (
  SELECT doc_id, pos, gh,
         SUM(CASE WHEN gh % 8 = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_idx
  FROM wh),
occ AS (
  SELECT doc_id, chunk_idx,
         CAST(SUM(gh * off) AS BIGINT) AS fp,
         CAST(COUNT(*) AS BIGINT) AS len,
         CAST(MIN(doc_id * $CdcKeyMult + chunk_idx) AS BIGINT) AS occ_key
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_idx
                                     ORDER BY pos) AS off
        FROM chunked)
  GROUP BY doc_id, chunk_idx),
canon AS (SELECT fp, len, MIN(occ_key) AS first_key FROM occ GROUP BY fp, len),
flagged AS (
  SELECT o.doc_id, o.len,
         CASE WHEN o.occ_key <> c.first_key THEN 1 ELSE 0 END AS is_dup
  FROM occ o JOIN canon c ON o.fp = c.fp AND o.len = c.len
  WHERE o.doc_id >= 1000000)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(len) AS BIGINT) AS n_tokens,
       CAST(SUM(is_dup) AS BIGINT) AS dup_chunks,
       CAST(SUM(len * is_dup) AS BIGINT) AS dup_tokens,
       FLOOR((SUM(len * is_dup) * 1.0 / SUM(len)) * 10000.0 + 0.5) / 10000.0 AS dup_token_share
FROM flagged GROUP BY doc_id
ORDER BY doc_id"""
}
