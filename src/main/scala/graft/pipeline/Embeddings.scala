package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.HistogramRank
import graft.util.Round.r4

/**
 * Similarity search + embedding near-dup over the
 * `embeddings(vec_id, embedding: array<float>, label)` table.
 *
 * Vectors are quantized to integer milli-units
 * (`q_i = floor(x_i * 1000 + 0.5)`, the portable-by-construction
 * round-half-up formula — see [[graft.util.Round]] for why `ROUND`
 * itself diverges between engines) so dot products and norms are exact
 * integers — cosine similarity is then one double division, identical
 * across engines and aggregation orders. At 100 TB the same pipeline
 * runs un-quantized; quantization costs ~1e-3 relative error, well
 * under any useful similarity threshold.
 *
 * Dot products are computed IN-ROW with `zip_with` + `aggregate`
 * higher-order functions over the quantized arrays: a candidate pair
 * costs one 64-wide multiply-add loop instead of 64 shuffled rows.
 * (HOFs evaluate interpreted, so the LSH bands are sized to keep the
 * candidate count small — 4 bands x 8 sign bits from 32 hyperplanes.)
 *
 * Scale design: the query set is broadcast for brute-force top-k (a
 * broadcast nested-loop over the corpus — the correct baseline plan);
 * the LSH variants bucket by sign-bit nibbles and join per bucket — no
 * all-pairs crossJoin of the corpus with itself.
 */
object Embeddings {

  val Dims = 64
  val NumPlanes = 32
  /** Corpus-scale sign-LSH width: 64 planes / 4 x 16-bit bands — see
   *  [[nibbles]] for the measured saturation-vs-recall trade. */
  val NumPlanesWide = 64

  /** vec_id, qarr (array<long> milli-units), nq (exact squared norm).
   *  Both steps are native codegen'd expressions
   *  ([[graft.functions.QuantizeMilli]] / [[graft.functions.QDot]],
   *  registered by [[graft.ext.GraftExtensions]]) — the equivalent
   *  `transform`/`aggregate(zip_with(...))` built-in compositions
   *  evaluate their lambdas interpreted and allocate per row, and
   *  this projection is the entry pass of EVERY embedding-family
   *  query (r16: the HOF quantize was the one interpreted expression
   *  left on the family's hot path). */
  private def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        call_function("quantize_milli", col("embedding"))
          .as("qarr"))
      .withColumn("nq", expr("qdot(qarr, qarr)"))

  /** Materialize the quantized index once for the whole ANN family —
   *  the "build the index, then serve queries" shape every vector
   *  store has: [[annLsh]]/[[annIvf]]/[[dedupEmbedding]] accept the
   *  read-back frame via `precomputedQuantized`, so a corpus indexed
   *  at write time never re-quantizes per query batch. (Fingerprints
   *  and IVF assignments stay derived — they are pure projections /
   *  one broadcast pass over this frame, and parameter changes like
   *  `numCentroids` must not require a re-written store.) */
  def writeQuantizedStore(emb: DataFrame, path: String): Unit =
    quantized(emb).write.mode("overwrite").parquet(path)

  /** The [[writeQuantizedStore]] frame itself (`vec_id, qarr, nq`) —
   *  for callers maintaining the index as a DataFrame (the
   *  incremental/streaming appenders) rather than a parquet path. */
  def quantizedIndex(emb: DataFrame): DataFrame = quantized(emb)

  private val pairDot = "qdot(qarr_a, qarr_b)"

  /** The IVF coarse codebook: the `k` vectors with the smallest
   *  `md5(vec_id)` — a distributed TakeOrdered(k) (per-partition heads
   *  + one driver merge, no global sort) any SQL engine mirrors with
   *  `ORDER BY md5(id) LIMIT k`. Output is the `(cent_id, qarr_a,
   *  nq_a)` shape a trained codebook ([[trainCentroids]]) drops into. */
  private def hashCentroids(qv: DataFrame, k: Int): DataFrame =
    qv.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cent_id"), col("qarr").as("qarr_a"),
        col("nq").as("nq_a"))

  /** Sentinel `numCentroids` value meaning "size the IVF cell count
   *  from the corpus": K = max(32, floor(sqrt(N))). Within-cell
   *  pair enumeration costs Σ|cell|² ≈ N²/K, so ANY fixed K turns a
   *  10× corpus into ~100×/K candidate work — measured on the 10×
   *  stress corpus: K=32 → 72.7 s for the `semantic_clusters`
   *  composite vs 27.6 s at K=sqrt(N)=141 (STRESS_SF1.md §2,
   *  graft.tools.ScaleProbe). sqrt(N) keeps both the expected cell
   *  size and the cell count at sqrt(N), bounding pair work at
   *  N^1.5 — the default that survives a scale-up, so the
   *  pair-enumerating kNN/SemDeDup family defaults to it. The
   *  harness call sites pin an explicit 32 to keep the DuckDB
   *  oracles (which mirror the 32-cell codebook CTE) byte-stable. */
  val AutoCentroids: Int = 0

  /** Resolve a requested cell count: positive = caller-pinned;
   *  [[AutoCentroids]] = sqrt(N) from ONE count over the (cached)
   *  quantized frame — the count is free where the family already
   *  eager-caches `qv`, and a single columnar scan otherwise. */
  private def resolveCentroids(qv: DataFrame, requested: Int): Int =
    if (requested > 0) requested
    else math.max(32, math.sqrt(qv.count().toDouble).toInt)

  /** The `n` nearest centroids per vector by exact quantized cosine
   *  (ties -> lowest cent_id): one broadcast-K pass over `qv`, the
   *  K-bounded assignment every IVF-shaped operator shares. Returns
   *  `(vec_id, cent_id)`, `n` rows per vector. */
  private def nearestCentroids(qv: DataFrame, centroids: DataFrame,
                               n: Int): DataFrame =
    qv.select(col("vec_id"), col("qarr").as("qarr_b"), col("nq").as("nq_b"))
      .crossJoin(broadcast(centroids))
      .withColumn("cosine",
        expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .withColumn("rk", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cosine").desc, col("cent_id"))))
      .filter(col("rk") <= n)
      .select(col("vec_id"), col("cent_id"))

  /** Brute-force cosine top-k over an explicit bounded `queries` frame
   *  (embeddings-shaped: vec_id, embedding), broadcast against the
   *  corpus (broadcast nested loop — the intended baseline plan; the
   *  corpus side streams). The query set must be bounded (fits a
   *  broadcast); a %-of-corpus selector would grow linearly and is the
   *  caller's mistake to make — the scale paths are [[annLsh]] /
   *  [[annIvf]]. Self-matches (same vec_id) are excluded. */
  def annTopK(emb: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val qside = quantized(queries).select(col("vec_id").as("query_id"),
      col("qarr").as("qarr_a"), col("nq").as("nq_a"))
    val sims = quantized(emb)
      .select(col("vec_id"), col("qarr").as("qarr_b"), col("nq").as("nq_b"))
      .crossJoin(broadcast(qside))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("dot", expr(pairDot))
      .withColumn("cosine", col("dot") / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
    sims
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rank"),
        col("vec_id"), r4(col("cosine")).as("cosine"))
      .orderBy("query_id", "rank")
  }

  val annTopKOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
queries AS (SELECT vec_id AS query_id, i, q AS q_q FROM qv WHERE vec_id % 100 = 0 AND vec_id < 2000),
dots AS (
  SELECT qs.query_id, v.vec_id, CAST(SUM(qs.q_q * v.q) AS BIGINT) AS dot
  FROM queries qs JOIN qv v ON qs.i = v.i
  WHERE qs.query_id <> v.vec_id
  GROUP BY qs.query_id, v.vec_id),
sims AS (
  SELECT d.query_id, d.vec_id,
         d.dot / (sqrt(nq_a.nq) * sqrt(nq_b.nq)) AS cosine
  FROM dots d
  JOIN nr nq_a ON d.query_id = nq_a.vec_id
  JOIN nr nq_b ON d.vec_id = nq_b.vec_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM sims)
SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id,
       FLOOR((cosine) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM ranked WHERE rk <= 10
ORDER BY query_id, rank"""

  /** FILTERED vector search — [[annTopK]] under a metadata predicate:
   *  each query's top-k restricted to corpus vectors sharing the
   *  query's `label` (the "same-category nearest neighbors" serving
   *  shape every production vector store ships as filtered search).
   *  Post-filtering a global top-k under-returns when the filter is
   *  selective — the well-known filtered-ANN failure — so the filter
   *  is applied IN candidate generation: the broadcast query side
   *  joins the corpus ON the label, which is exactly how a
   *  label-partitioned index serves it at scale (each query scans
   *  only its label's partition — 1/|labels| of the corpus — instead
   *  of post-filtering a corpus-wide list). Bounded query sample, k
   *  guaranteed satisfiable per label or the shorter list returned
   *  honestly. */
  def annFiltered(emb: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val qside = quantized(queries).join(labels, "vec_id")
      .select(col("vec_id").as("query_id"), col("label"),
        col("qarr").as("qarr_a"), col("nq").as("nq_a"))
    val corpus = quantized(emb).join(labels, "vec_id")
      .select(col("vec_id"), col("label"),
        col("qarr").as("qarr_b"), col("nq").as("nq_b"))
    corpus.join(broadcast(qside), Seq("label"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("dot", expr(pairDot))
      .withColumn("cosine", col("dot") / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("label"), col("rk").cast("long").as("rank"),
        col("vec_id"), r4(col("cosine")).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** [[annTopKOracle]]'s chain with the label equi-join pushed into
   *  the dot pass — the same filter-in-candidate-generation shape. */
  val annFilteredOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
queries AS (
  SELECT q.vec_id AS query_id, l.label, q.i, q.q AS q_q
  FROM qv q JOIN lab l ON q.vec_id = l.vec_id
  WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000),
dots AS (
  SELECT qs.query_id, qs.label, v.vec_id, CAST(SUM(qs.q_q * v.q) AS BIGINT) AS dot
  FROM queries qs
  JOIN qv v ON qs.i = v.i
  JOIN lab lv ON v.vec_id = lv.vec_id AND lv.label = qs.label
  WHERE qs.query_id <> v.vec_id
  GROUP BY qs.query_id, qs.label, v.vec_id),
sims AS (
  SELECT d.query_id, d.label, d.vec_id,
         d.dot / (sqrt(nq_a.nq) * sqrt(nq_b.nq)) AS cosine
  FROM dots d
  JOIN nr nq_a ON d.query_id = nq_a.vec_id
  JOIN nr nq_b ON d.vec_id = nq_b.vec_id),
ranked AS (
  SELECT query_id, label, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM sims)
SELECT query_id, label, CAST(rk AS BIGINT) AS rank, vec_id,
       FLOOR((cosine) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM ranked WHERE rk <= 5
ORDER BY query_id, rank"""

  /** Sign-bit fingerprints from deterministic integer "random"
   *  hyperplanes h_p[i] = ((37+101p)*i + 17+257p) mod 97 - 48, plus the
   *  4 exploded nibble bands used for bucketing.
   *
   *  Pure PROJECTION: each hyperplane is a literal array and each sign
   *  bit one codegen'd qdot call, so the 32-bit fingerprint costs zero
   *  shuffles and zero row blowup (the old shape crossJoined 32 plane
   *  rows per vector and re-aggregated — 32x the rows through an
   *  exchange for the same arithmetic). */
  /** The raw 32-bit sign fingerprint (vec_id, fp) — the binary
   *  quantization of the vector: one bit per hyperplane, 4 B/vector.
   *  Shared by the LSH banding ([[nibbles]]) and the BQ serving-path
   *  recall gauge ([[bqRecall]]), so the two read the SAME bits. */
  private def signFp(qv: DataFrame, planes: Int = NumPlanes): DataFrame = {
    val bitCols = (0 until planes).map { p =>
      val (pa, pb) = (37L + 101L * p, 17L + 257L * p)
      val plane = Array.tabulate(Dims)(idx => (pa * (idx + 1) + pb) % 97L - 48L)
      when(call_function("qdot", col("qarr"), typedlit(plane)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }
    qv.select(col("vec_id"), bitCols.reduce(_ + _).as("fp"))
  }

  /** Always 4 bands; `planes`/4-bit band values. The WIDE setting
   *  ([[NumPlanesWide]] = 64, 16-bit bands) is the maintained-store
   *  scale mode: 8-bit bands saturate at ~256 values/band, so a
   *  large store's band buckets grow linearly and candidate mass with
   *  them (the sf10 probe measured the 32-plane incremental trigger
   *  4.7x per 4x state at a 480k-vector store — the simhash-32 cliff
   *  shape). Unlike simhash's pigeonhole, sign-LSH banding is
   *  probabilistic: wider bands shift the match S-curve right
   *  (EmbeddingsSpec "band recall by cosine" measures the shift on
   *  real data — that measured trade, not an assertion, is why the
   *  batch default stays 32 and the wide mode is the opt-in for
   *  corpus-scale stores, mirroring minhash's bands-vs-rows knob). */
  /** The full within-corpus banded candidate pair set at a given
   *  width — the measurement surface for the band-recall spec (the
   *  minhash_recall_sample discipline applied to sign-LSH): recall
   *  per true-cosine bucket = |candidates ∩ bucket| / |bucket|. */
  private[graft] def bandCandidatePairs(emb: DataFrame,
                                        planes: Int = NumPlanes): DataFrame = {
    val nib = nibbles(quantized(emb), planes)
    nib.select(col("band"), col("nibv"), col("vec_id").as("vec_a"))
      .join(nib.select(col("band"), col("nibv"), col("vec_id").as("vec_b")),
        Seq("band", "nibv"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }

  private def nibbles(qv: DataFrame, planes: Int = NumPlanes): DataFrame =
    nibblesFromFp(signFp(qv, planes), planes)

  /** Band rows from a PRECOMPUTED fingerprint frame `(vec_id, fp)` —
   *  the banding side of the maintained-fp-store trigger path. A
   *  64-plane fp serves BOTH widths: planes 0-31 use the same
   *  formulas at either width, so fp32 = fp64 & 0xFFFFFFFF and the
   *  32-plane bands are the low-32-bit slices — ONE stored long per
   *  vector, width chosen at read time. */
  private def nibblesFromFp(fp: DataFrame, planes: Int): DataFrame = {
    val bandBits = planes / 4
    val mask = (1L << bandBits) - 1
    // Lambda-free banding: explode over an array of codegen'd struct
    // expressions. The transform(sequence(0,3), bd -> ...) HOF it
    // replaces evaluated its lambda INTERPRETED per corpus row at the
    // head of every LSH-banded key; same values, same element order.
    val bands = (0 until 4).map { bd =>
      struct(lit(bd.toLong).as("band"),
        shiftright(col("fp"), bandBits * bd).bitwiseAND(lit(mask)).as("nibv"))
    }
    fp.select(col("vec_id"), explode(array(bands: _*)).as("nb"))
      .select(col("vec_id"), col("nb.band").as("band"), col("nb.nibv").as("nibv"))
  }

  /** The per-vector sign fingerprint frame `(vec_id, fp)` at the FULL
   *  wide width — the append-only banding state
   *  [[dedupEmbeddingIncremental]] reads, when present, instead of
   *  re-deriving fingerprints from the quantized state.
   *  Why it exists: "fingerprints stay derived" is elegant but costs
   *  O(state × planes) qdot projections PER TRIGGER — the sf10 probe
   *  measured the trigger cost tracking exactly a×state×planes
   *  (32-plane: 10.5 s quarter / 68 s full; 64-plane: 21.9 / 62 —
   *  the candidate mass was NOT the linear term, the store-side fp
   *  recompute was). Materialized, the banding side is an
   *  8-byte-per-vector columnar scan, the simhash-family profile. */
  def embFingerprints(emb: DataFrame): DataFrame =
    signFp(quantized(emb), NumPlanesWide)

  /** Materialize [[embFingerprints]] as a parquet store. */
  def writeEmbFingerprintStore(emb: DataFrame, path: String): Unit =
    embFingerprints(emb).write.mode("overwrite").parquet(path)

  /** [[embFingerprints]] from an already-quantized frame — the
   *  compaction-time rebuild path (state stores hold qarr, not raw
   *  embeddings) and the migration path for pre-fp-store state. */
  def embFingerprintsFromQuantized(qv: DataFrame): DataFrame =
    signFp(qv.select(col("vec_id"), col("qarr")), NumPlanesWide)

  private[pipeline] val planeFpCte: String = """
dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
planes AS (
  SELECT p, 37 + 101 * p AS pa, 17 + 257 * p AS pb
  FROM (SELECT unnest(range(0, 32)) AS p)),
pdots AS (
  SELECT v.vec_id, pl.p, SUM(((pl.pa * v.i + pl.pb) % 97 - 48) * v.q) AS pdot
  FROM qv v CROSS JOIN planes pl
  GROUP BY v.vec_id, pl.p),
fp AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN pdot > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT) AS fp
  FROM pdots GROUP BY vec_id),
nib AS (
  SELECT vec_id, fp, bd.band, (fp >> (8 * bd.band)) & 255 AS nibv
  FROM fp, (SELECT unnest(range(0, 4)) AS band) bd)"""

  /** Verify candidate (id_a, id_b) pairs with the exact in-row cosine;
   *  keeps pairs >= minCosine. `qva`/`qvb` are the quantized frames the
   *  two sides resolve against (they differ when the query set is not a
   *  subset of the corpus). */
  private def verifyCosine(cands: DataFrame, qva: DataFrame, qvb: DataFrame,
                           aCol: String, bCol: String,
                           minCosine: Double): DataFrame =
    cands
      .join(qva.select(col("vec_id").as(aCol),
        col("qarr").as("qarr_a"), col("nq").as("nq_a")), aCol)
      .join(qvb.select(col("vec_id").as(bCol),
        col("qarr").as("qarr_b"), col("nq").as("nq_b")), bCol)
      .withColumn("dot", expr(pairDot))
      .withColumn("cosine", col("dot") / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .filter(col("cosine") >= minCosine)

  /** LSH-bucketed ANN: the explicit `queries` frame (embeddings-shaped)
   *  probes only vectors sharing a sign-bit nibble; candidates verified
   *  with exact quantized cosine >= minCosine. Scale shape: the bucket
   *  join keys on (band, nibble) so each query touches ~|corpus|/2^8
   *  vectors per band, never the full corpus. */
  def annLsh(emb: DataFrame, queries: DataFrame,
             minCosine: Double = 0.3,
             precomputedQuantized: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val qq = quantized(queries)
    val cands = nibbles(qq)
      .select(col("band"), col("nibv"), col("vec_id").as("query_id"))
      .join(nibbles(qv).select(col("band"), col("nibv"), col("vec_id")),
        Seq("band", "nibv"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id").distinct()
    verifyCosine(cands, qq, qv, "query_id", "vec_id", minCosine)
      .select(col("query_id"), col("vec_id"), r4(col("cosine")).as("cosine"))
      .orderBy("query_id", "vec_id")
  }

  val annLshOracle: String = "WITH " + planeFpCte + """,
cands AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id
  FROM nib a JOIN nib b ON a.band = b.band AND a.nibv = b.nibv
  WHERE a.vec_id % 100 = 0 AND a.vec_id < 2000 AND a.vec_id <> b.vec_id),
dots AS (
  SELECT c.query_id, c.vec_id, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM cands c
  JOIN qv qa ON qa.vec_id = c.query_id
  JOIN qv qb ON qb.vec_id = c.vec_id AND qb.i = qa.i
  GROUP BY c.query_id, c.vec_id)
SELECT d.query_id, d.vec_id,
       FLOOR((d.dot / (sqrt(na.nq) * sqrt(nb.nq))) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM dots d
JOIN nr na ON d.query_id = na.vec_id
JOIN nr nb ON d.vec_id = nb.vec_id
WHERE d.dot / (sqrt(na.nq) * sqrt(nb.nq)) >= 0.3
ORDER BY d.query_id, d.vec_id"""

  /** IVF-style ANN: a FIXED-K coarse quantizer partitions the corpus
   *  into inverted lists by nearest-centroid; each query probes only
   *  the `nprobe` closest lists and ranks candidates by exact cosine.
   *
   *  Centroid selection is a deterministic hash-ordered sample: the
   *  `numCentroids` vectors with the smallest `md5(vec_id)` — a
   *  distributed top-K (TakeOrdered: per-partition heads + one driver
   *  merge, no global sort) that any SQL engine mirrors with
   *  `ORDER BY md5(id) LIMIT K`. K is FIXED, not a fraction of the
   *  corpus: the broadcast centroid frame and the per-vector
   *  assignment cost stay K-bounded however big the corpus grows
   *  (pick K ≈ √N for classic IVF balance; a k-means‖-trained
   *  codebook drops in behind the same (cent_id, qarr_a, nq_a)
   *  shape). At 100 TB each inverted list is a co-partitioned bucket
   *  and queries scan ~|corpus| * nprobe / K vectors, never the
   *  whole corpus. */
  def annIvf(emb: DataFrame, queries: DataFrame,
             k: Int = 10, nprobe: Int = 2,
             numCentroids: Int = 32,
             precomputedQuantized: Option[DataFrame] = None,
             trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val centroids = trainedCentroids
      .map(_.select(col("cent_id"), col("qarr_a"), col("nq_a")))
      .getOrElse(hashCentroids(qv, numCentroids))
    // nearest centroid per vector (cosine argmax, ties -> lowest id)
    val assigned = nearestCentroids(qv, centroids, 1)
    // each query probes its nprobe nearest centroids
    val qq = quantized(queries)
    val probes = nearestCentroids(qq, centroids, nprobe)
      .withColumnRenamed("vec_id", "query_id")
    // candidates: vectors in the probed lists; rank by exact cosine
    val cands = probes.join(assigned, "cent_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id").distinct()
    verifyCosine(cands, qq, qv, "query_id", "vec_id", minCosine = -1.0)
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rank"),
        col("vec_id"), r4(col("cosine")).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** The coarse-quantizer CTE chain every IVF-shaped oracle shares:
   *  quantized vectors, norms, the hash-ordered 32-centroid codebook,
   *  and the nearest-centroid `assigned(vec_id, cent_id)` relation —
   *  the SQL mirror of [[hashCentroids]] + [[nearestCentroids]](n=1). */
  private val ivfAssignCte: String = """dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
cents AS (SELECT vec_id AS cent_id FROM nr
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
vc_dots AS (
  SELECT v.vec_id, c.cent_id, CAST(SUM(v.q * cv.q) AS BIGINT) AS dot
  FROM qv v JOIN cents c ON true JOIN qv cv ON cv.vec_id = c.cent_id AND cv.i = v.i
  GROUP BY v.vec_id, c.cent_id),
vc_cos AS (
  SELECT d.vec_id, d.cent_id,
         d.dot / (sqrt(nv.nq) * sqrt(nc.nq)) AS cosine
  FROM vc_dots d
  JOIN nr nv ON d.vec_id = nv.vec_id
  JOIN nr nc ON d.cent_id = nc.vec_id),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cent_id) AS rk
    FROM vc_cos) t WHERE rk = 1)"""

  val annIvfOracle: String = "WITH " + ivfAssignCte + """,
probes AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT vec_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cent_id) AS rk
    FROM vc_cos WHERE vec_id % 100 = 0 AND vec_id < 2000) t WHERE rk <= 2),
cands AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
  WHERE p.query_id <> a.vec_id),
cdots AS (
  SELECT c.query_id, c.vec_id, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM cands c
  JOIN qv qa ON qa.vec_id = c.query_id
  JOIN qv qb ON qb.vec_id = c.vec_id AND qb.i = qa.i
  GROUP BY c.query_id, c.vec_id),
ranked AS (
  SELECT d.query_id, d.vec_id,
         d.dot / (sqrt(na.nq) * sqrt(nb.nq)) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.query_id
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_id) AS rk
  FROM cdots d
  JOIN nr na ON d.query_id = na.vec_id
  JOIN nr nb ON d.vec_id = nb.vec_id)
SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id, FLOOR((cosine) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM ranked WHERE rk <= 10
ORDER BY query_id, rank"""

  /** k-means-refined IVF codebook: start from the same deterministic
   *  hash-ordered seeds [[annIvf]] uses and run `iters` Lloyd rounds,
   *  each as TWO DataFrame passes — ASSIGN (the broadcast-K cosine
   *  argmax, the identical shape annIvf's list assignment uses) and
   *  UPDATE (one partial-aggregating `groupBy(cent_id)` carrying 64
   *  per-dimension SUM columns + a count; the new centroid is the
   *  integer-rounded mean, so the codebook is EXACT under any
   *  aggregation order — no float-sum nondeterminism). A cluster that
   *  loses every member keeps its previous centroid (left join +
   *  coalesce), so K never shrinks. Each round materializes the K-row
   *  codebook eagerly (`localCheckpoint`) so the next broadcast ships
   *  K rows, not a growing lineage.
   *
   *  Output is the `(cent_id, qarr_a, nq_a)` frame [[annIvf]] accepts
   *  as `trainedCentroids`: the hash-ordered sample is scale-correct
   *  but quality-blind, and on clustered embeddings a few Lloyd
   *  rounds move the codebook onto the data's actual modes — which is
   *  what makes low-`nprobe` probing recall respectable. Cost per
   *  round is one broadcast pass over the corpus + a K-row aggregate:
   *  at 100 TB, train on a bounded deterministic sample (`emb` is the
   *  caller's frame — pass a hash-filtered slice) and assign the full
   *  corpus once with the final codebook. */
  def trainCentroids(emb: DataFrame, numCentroids: Int = 32,
                     iters: Int = 3): DataFrame = {
    val qv = quantized(emb).cache()
    var cents = qv
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id").as("cent_id"), col("qarr").as("qarr_a"),
        col("nq").as("nq_a"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val assigned = qv
        .select(col("vec_id"), col("qarr").as("qarr_b"), col("nq").as("nq_b"))
        .crossJoin(broadcast(cents))
        .withColumn("cosine",
          expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
        .withColumn("rk", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("cosine").desc, col("cent_id"))))
        .filter(col("rk") === 1)
        .select(col("cent_id"), col("qarr_b"))
      val sumCols = (0 until Dims).map(i =>
        sum(col("qarr_b")(i)).as(s"s$i")) :+ count(lit(1)).as("cnt")
      val means = assigned.groupBy("cent_id")
        .agg(sumCols.head, sumCols.tail: _*)
        // FLOOR(sum/cnt + 0.5), the same round()-free centroid-update
        // rule topicClusters oracles bit-exactly (round()'s negative-
        // mean behavior is engine-dependent; this formula is not)
        .select(col("cent_id"), array((0 until Dims).map(i =>
          floor(col(s"s$i") * lit(1.0) / col("cnt") + lit(0.5))): _*)
          .as("qarr_new"))
        .withColumn("nq_new", expr("qdot(qarr_new, qarr_new)"))
      cents = cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("qarr_new"), col("qarr_a")).as("qarr_a"),
          coalesce(col("nq_new"), col("nq_a")).as("nq_a"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Embedding-cosine near-dup: all pairs sharing an LSH nibble bucket,
   *  verified at exact quantized cosine >= minCosine. Bucket join only
   *  — the corpus is never self-crossJoined — and candidate generation
   *  goes through [[Dedup.saltedBucketPairs]] so a hot nibble bucket
   *  spreads over several reducers. */
  def dedupEmbedding(emb: DataFrame, minCosine: Double = 0.4,
                     precomputedQuantized: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val nib = nibbles(qv).cache() // salted pair gen reads it twice
    val cands = Dedup.saltedBucketPairs(nib, Seq("band", "nibv"), "vec_id")
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    verifyCosine(cands, qv, qv, "vec_a", "vec_b", minCosine)
      .select(col("vec_a"), col("vec_b"), r4(col("cosine")).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** Shared tail from `nib` to the verified pair set; `candPred`
   *  injects the incremental oracle's batch restriction into the SAME
   *  chain, so the full-run and incremental oracles can never drift. */
  private def dedupEmbeddingTailSql(candPred: String): String = s""",
cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM nib a JOIN nib b ON a.band = b.band AND a.nibv = b.nibv
  WHERE a.vec_id < b.vec_id$candPred),
dots AS (
  SELECT c.vec_a, c.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM cands c
  JOIN qv qa ON qa.vec_id = c.vec_a
  JOIN qv qb ON qb.vec_id = c.vec_b AND qb.i = qa.i
  GROUP BY c.vec_a, c.vec_b)
SELECT d.vec_a, d.vec_b,
       FLOOR((d.dot / (sqrt(na.nq) * sqrt(nb.nq))) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM dots d
JOIN nr na ON d.vec_a = na.vec_id
JOIN nr nb ON d.vec_b = nb.vec_id
WHERE d.dot / (sqrt(na.nq) * sqrt(nb.nq)) >= 0.4
ORDER BY d.vec_a, d.vec_b"""

  val dedupEmbeddingOracle: String =
    "WITH " + planeFpCte + dedupEmbeddingTailSql("")

  /** Cosine-threshold sweep over the sign-LSH candidate set — the
   *  embedding twin of [[graft.pipeline.Dedup.dedupThresholdSweep]]:
   *  pair count and distinct docs flagged at every candidate cutoff
   *  in {0.0, 0.1, ..., 0.9}, read before committing `minCosine` (the
   *  "how much does 0.4 vs 0.6 cost" curve) without running the
   *  detector N times. ONE candidate-driven verify pass (no
   *  threshold), then a ≤10x grid explode of the candidate-bounded
   *  verified frame; both rollups at pair/grid cardinality. The
   *  bucket rule compares the IDENTICAL IEEE expression in both
   *  engines (r4'd cosine × 10 vs the integer step — the
   *  [[graft.pipeline.TextAnalysis.qualitySweep]] bucket-edge
   *  discipline). */
  def embeddingThresholdSweep(emb: DataFrame,
                              precomputedQuantized: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val nib = nibbles(qv).cache()
    val cands = Dedup.saltedBucketPairs(nib, Seq("band", "nibv"), "vec_id")
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    val graded = verifyCosine(cands, qv, qv, "vec_a", "vec_b", minCosine = -1.0)
      .select(col("vec_a"), col("vec_b"), r4(col("cosine")).as("rc"))
      .select(col("vec_a"), col("vec_b"), col("rc"),
        explode(sequence(lit(0L), lit(9L))).as("step"))
      .filter(col("rc") * lit(10.0) >= col("step").cast("double"))
      .cache()
    val pairsPerT = graded.groupBy("step").agg(count(lit(1)).as("n_pairs"))
    val docsPerT = graded
      .select(col("step"), explode(array(col("vec_a"), col("vec_b"))).as("vec_id"))
      .groupBy("step").agg(countDistinct("vec_id").as("n_docs_flagged"))
    // left-join against the full 0..9 grid: a threshold no candidate
    // pair survives must read as an explicit 0-cost row — the whole
    // point of the curve is "what does 0.9 cost", and an absent row
    // is indistinguishable from a not-swept one
    val grid = emb.sparkSession.range(10).select(col("id").as("step"))
    grid.join(pairsPerT, Seq("step"), "left")
      .join(docsPerT, Seq("step"), "left")
      .select(r4(col("step") * lit(1.0) / lit(10.0)).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"))
      .orderBy("threshold")
  }

  /** [[dedupEmbeddingOracle]]'s chain without its baked-in 0.4 WHERE;
   *  the grid comparison mirrors the r4-then-×10 expression
   *  byte-for-byte. */
  val embeddingThresholdSweepOracle: String = "WITH " + planeFpCte + """,
ecands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM nib a JOIN nib b ON a.band = b.band AND a.nibv = b.nibv
  WHERE a.vec_id < b.vec_id),
edots AS (
  SELECT c.vec_a, c.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM ecands c
  JOIN qv qa ON qa.vec_id = c.vec_a
  JOIN qv qb ON qb.vec_id = c.vec_b AND qb.i = qa.i
  GROUP BY c.vec_a, c.vec_b),
ecos AS (
  SELECT d.vec_a, d.vec_b,
         FLOOR((d.dot / (sqrt(na.nq) * sqrt(nb.nq))) * 10000.0 + 0.5) / 10000.0 AS rc
  FROM edots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id),
egraded AS (
  SELECT e.vec_a, e.vec_b, t.step
  FROM ecos e JOIN (SELECT unnest(range(0, 10)) AS step) t
    ON e.rc * 10.0 >= CAST(t.step AS DOUBLE)),
epairs AS (
  SELECT step, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM egraded GROUP BY step),
edocs AS (
  SELECT step, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_docs_flagged FROM (
    SELECT step, vec_a AS vec_id FROM egraded
    UNION ALL SELECT step, vec_b FROM egraded) u
  GROUP BY step),
esteps AS (SELECT unnest(range(0, 10)) AS step)
SELECT FLOOR((s.step * 1.0 / 10.0) * 10000.0 + 0.5) / 10000.0 AS threshold,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(d.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
FROM esteps s
LEFT JOIN epairs p ON s.step = p.step
LEFT JOIN edocs d ON s.step = d.step
ORDER BY threshold"""

  /** Incremental embedding-cosine near-dup — the FOURTH incremental
   *  blocking family ([[graft.pipeline.Dedup.dedupNgramIncremental]]
   *  n-gram rarity, `dedupMinhashIncremental` signature LSH,
   *  `dedupSimhashIncremental` hamming bands, this sign-bit
   *  hyperplane LSH): a new batch of vectors near-dup-checks against
   *  an indexed corpus without re-quantizing or re-fingerprinting it.
   *  Per-doc state is the quantized vector itself (the
   *  [[writeQuantizedStore]] frame — the SAME index every ANN family
   *  member reads; fingerprints stay derived, they are a pure
   *  projection over it), candidate generation joins corpus+batch
   *  nibbles against only the batch's nibbles — the batch restriction
   *  below the pair join, O(old²) never enumerates — and the result
   *  is bit-identical to the full run restricted to batch-touching
   *  pairs (fingerprints are per-vector).
   *
   *  The corpus enters as state only: `corpusQuantized` (the
   *  [[quantizedIndex]] frame) for verify, and `corpusFingerprints`
   *  (the [[embFingerprints]] frame) for banding when the caller has
   *  it — absent, banding derives from the quantized state at the
   *  O(state × planes) cost that frame exists to avoid.
   *  `planes` = [[NumPlanesWide]] is the corpus-scale banding (the
   *  quantized state is width-agnostic — fingerprints are a pure
   *  projection over qarr — so it serves either width; the S-curve
   *  shift is the measured trade, see [[nibbles]]). */
  def dedupEmbeddingIncremental(corpusQuantized: DataFrame, batch: DataFrame,
                                minCosine: Double = 0.4,
                                planes: Int = NumPlanes,
                                corpusFingerprints: Option[DataFrame] = None): DataFrame = {
    val corpusQv = corpusQuantized.select(col("vec_id"), col("qarr"), col("nq"))
    // r16: batch-bounded frames consumed twice each (batchQv by the
    // allQv union AND the fp derivation; batchNib by the union side
    // AND the broadcast side of the candidate join) — uncached, the
    // batch's 64-plane qdot fingerprint pass ran twice per call.
    // Delta-sized caches (the pinnedVerify class), dropped below. The
    // store ∪ batch frame stays UNCACHED: its one reader is
    // pinnedVerify's endpoint restriction, which scans the store once
    // and caches only the candidate endpoints' vectors.
    val batchQv = quantized(batch).cache()
    val allQv = corpusQv.unionByName(batchQv)
    // Corpus banding side: the fp state when provided (an
    // 8-byte-per-vector scan — see [[embFingerprints]] for why the
    // derive-per-trigger fallback is the O(state × planes) term), else
    // derived from the quantized state. Batch fps always derive
    // (O(batch)).
    val batchNib = nibblesFromFp(signFp(batchQv, NumPlanesWide)
      .select(col("vec_id"), col("fp")), planes).cache()
    val corpusNib = corpusFingerprints match {
      case Some(fps) => nibblesFromFp(fps.select("vec_id", "fp"), planes)
      case None => nibbles(corpusQv, planes)
    }
    // Batch nibbles broadcast (delta-bounded); the quantized store
    // side is scanned map-side, never exchanged at state cardinality
    // — and the verify reads only candidate endpoints' vectors.
    val cands = corpusNib.unionByName(batchNib)
      .select(col("band"), col("nibv"), col("vec_id").as("id_any"))
      .join(broadcast(batchNib
        .select(col("band"), col("nibv"), col("vec_id").as("id_new"))),
        Seq("band", "nibv"))
      .filter(col("id_any") =!= col("id_new"))
      .select(least(col("id_any"), col("id_new")).as("vec_a"),
              greatest(col("id_any"), col("id_new")).as("vec_b"))
      .distinct()
    val out = Dedup.pinnedVerify(cands, allQv,
      idCol = "vec_id", aCol = "vec_a", bCol = "vec_b") { (c, touched) =>
      verifyCosine(c, touched, touched, "vec_a", "vec_b", minCosine)
        .select(col("vec_a"), col("vec_b"), r4(col("cosine")).as("cosine"))
        .orderBy("vec_a", "vec_b")
    }
    batchNib.unpersist()
    batchQv.unpersist()
    out
  }

  /** The FULL-run chain with the batch restriction applied to
   *  candidate generation (harness split: vec_id >= 400). */
  val dedupEmbeddingIncrementalOracle: String =
    "WITH " + planeFpCte +
      dedupEmbeddingTailSql(" AND (a.vec_id >= 400 OR b.vec_id >= 400)")

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
   *  arXiv:2303.09540): a coarse k-means-shaped partition (the same
   *  fixed-K quantizer [[annIvf]] uses) splits the corpus into K
   *  clusters, and near-duplicate pairs are enumerated ONLY within a
   *  cluster — the cluster is the blocking key, so cost is
   *  Σ|cluster|², never |corpus|², each cluster's pair work lands
   *  on its own reducers, and a DATA-skewed hot cluster (a million
   *  boilerplate near-identical embeddings on one centroid) is
   *  hard-bounded by [[Dedup.cappedBucketPairs]]: above
   *  [[Dedup.HotCellCap]] members the cell sub-buckets and pair work
   *  turns linear in |cell|. A vector is dropped when it is the larger
   *  `vec_b` of any within-cluster pair at exact quantized cosine >=
   *  `minCosine`; one representative per semantic duplicate group
   *  survives. Complements [[dedupEmbedding]]: sign-bit LSH blocks on
   *  near-identical direction (high recall at cosine ~1), the
   *  SemDeDup shape blocks on shared nearest-centroid — the published
   *  recipe for pruning *semantically redundant* training data, with
   *  K and the codebook swappable ([[trainCentroids]] drops in).
   *
   *  Output: one verdict row per vector `(vec_id, cent_id, keep)` —
   *  the frame a pipeline filters `keep = 1` to materialize the
   *  pruned corpus.
   *
   *  100 TB shape: assignment is one broadcast-K pass (K fixed);
   *  within-cluster pairing shuffles on `cent_id` (salted); verify is
   *  candidate-driven in-row `qdot`. With a trained √N codebook the
   *  expected cluster is √N — pair work N·√N worst-case, and in
   *  practice bounded by the cluster-size cap a curation run picks K
   *  for. */
  def dedupSemantic(emb: DataFrame, minCosine: Double = 0.4,
                    numCentroids: Int = AutoCentroids,
                    precomputedQuantized: Option[DataFrame] = None,
                    trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val centroids = trainedCentroids
      .map(_.select(col("cent_id"), col("qarr_a"), col("nq_a")))
      .getOrElse(hashCentroids(qv, resolveCentroids(qv, numCentroids)))
    // CACHED: cappedBucketPairs scans the assignment up to four times
    // (size probe + pair-join sides); uncached, the crossJoin+window
    // assignment re-ran per subtree (measured 2-3.5x across the family
    // when the capped path first landed). The probe's own bounded
    // action materializes the cache before any concurrent scan.
    val assigned = nearestCentroids(qv, centroids, 1).cache()
    val cands = Dedup.cappedBucketPairs(assigned, Seq("cent_id"), "vec_id")
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    val dropped = verifyCosine(cands, qv, qv, "vec_a", "vec_b", minCosine)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dropped", lit(1L))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        when(col("dropped").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy("vec_id")
  }

  val dedupSemanticOracle: String = "WITH " + ivfAssignCte + """,
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
pair_dots AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM pairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b),
dropped AS (
  SELECT DISTINCT d.vec_b AS vec_id
  FROM pair_dots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id
  WHERE d.dot / (sqrt(na.nq) * sqrt(nb.nq)) >= 0.4)
SELECT a.vec_id, a.cent_id,
       CASE WHEN dr.vec_id IS NULL THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS keep
FROM assigned a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
ORDER BY a.vec_id"""

  /** k-nearest-neighbor graph over the corpus — the primitive SemDeDup
   *  grouping, graph-based topic discovery, and diversity sampling all
   *  consume: for EVERY vector (not a query sample), its `k` nearest
   *  neighbors by exact quantized cosine among vectors sharing its
   *  IVF cell. Cell-restricted by construction — candidate work is
   *  Σ|cell|², never |corpus|², and [[Dedup.cappedBucketPairs]] both
   *  spreads a hot cell's pair generation over `salts` reducers AND
   *  hard-bounds a data-skewed cell (> [[Dedup.HotCellCap]] members
   *  sub-bucket; pair work turns linear in the hot cell); the
   *  per-vertex top-k window partitions on the vertex (cell-bounded
   *  candidate lists, hash-partitioned exchange — no global sort).
   *  Cell-restriction is the standard approximation: cross-cell true
   *  neighbors are missed, the price every IVF index pays
   *  ([[annRecall]] is the family's calibration gauge).
   *
   *  Output (vec_id, rank, neighbor_id, cosine) — both directions of
   *  every candidate pair rank independently, so the graph is directed
   *  (a's top-k may contain b while b's omits a; mutuality is the
   *  downstream [[semanticClusters]] filter).
   *
   *  SIZE `numCentroids` ~ sqrt(N) when the corpus grows: Σ|cell|² ≈
   *  N²/K, so the harness default K=32 turns 10x data into ~100x/K
   *  candidate work. Measured on the 10x stress corpus
   *  (tools/make_sf1.py, 20k vectors): K=32 -> 24.2 s, K=sqrt(N)=141
   *  -> 8.8 s for this graph; 129.9 s -> 27.6 s for the
   *  [[semanticClusters]] composite on top of it
   *  (graft.tools.ScaleProbe). The default is therefore
   *  [[AutoCentroids]] — K = max(32, sqrt(N)) derived from the
   *  corpus — so the operator survives a scale-up out of the box; a
   *  caller pins K explicitly (the harness pins 32 to match its
   *  oracle's codebook CTE) or supplies a [[trainCentroids]]
   *  codebook. */
  def knnGraph(emb: DataFrame, k: Int = 5,
               numCentroids: Int = AutoCentroids,
               precomputedQuantized: Option[DataFrame] = None,
               trainedCentroids: Option[DataFrame] = None): DataFrame =
    knnGraphCaching(emb, k, numCentroids, precomputedQuantized,
      trainedCentroids)._1

  /** [[knnGraph]] plus the frames it cached, for a caller that pins
   *  the graph and then drops them. */
  private def knnGraphCaching(emb: DataFrame, k: Int, numCentroids: Int,
                              precomputedQuantized: Option[DataFrame] = None,
                              trainedCentroids: Option[DataFrame] = None)
      : (DataFrame, Seq[DataFrame]) = {
    // EAGER cache ([[Dedup.withSharedShingles]] precedent): centroid
    // head, assignment, and the two verify sides scan qv independently
    // and would race a lazy cache into re-quantizing per subtree.
    val qv = precomputedQuantized.getOrElse {
      val q = quantized(emb).cache(); q.count(); q
    }
    val centroids = trainedCentroids
      .map(_.select(col("cent_id"), col("qarr_a"), col("nq_a")))
      .getOrElse(hashCentroids(qv, resolveCentroids(qv, numCentroids)))
    // CACHED, same rationale as qv above: the symmetrized candidate
    // frame consumes cappedBucketPairs twice and the capped path scans
    // its member frame up to four times per consumption — uncached,
    // the crossJoin+window assignment re-ran up to 8x (measured 2-7x
    // across the kNN family when the capped path first landed); the
    // size probe's bounded action materializes the cache.
    val assigned = nearestCentroids(qv, centroids, 1).cache()
    val cands = Dedup.cappedBucketPairs(assigned, Seq("cent_id"), "vec_id")
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    val sym = cands.union(
      cands.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
    val graph = verifyCosine(sym, qv, qv, "vec_a", "vec_b", minCosine = -1.0)
      .withColumn("rk", row_number().over(Window.partitionBy("vec_a")
        .orderBy(col("cosine").desc, col("vec_b"))))
      .filter(col("rk") <= k)
      .select(col("vec_a").as("vec_id"), col("rk").cast("long").as("rank"),
        col("vec_b").as("neighbor_id"), r4(col("cosine")).as("cosine"))
      .orderBy("vec_id", "rank")
    (graph, assigned +: precomputedQuantized.fold(Seq(qv))(_ => Nil))
  }

  /** Shares [[ivfAssignCte]]; the within-cell pair set is enumerated
   *  plainly (salting never changes the pair SET) and both directions
   *  rank via one ROW_NUMBER. */
  val knnGraphOracle: String = "WITH " + ivfAssignCte + """,
kpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
kpair_dots AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM kpairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b),
kranked AS (
  SELECT d.vec_a, d.vec_b,
         d.dot / (sqrt(na.nq) * sqrt(nb.nq)) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.vec_a
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_b) AS rk
  FROM kpair_dots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id)
SELECT vec_a AS vec_id, CAST(rk AS BIGINT) AS rank, vec_b AS neighbor_id,
       FLOOR(cosine * 10000.0 + 0.5) / 10000.0 AS cosine
FROM kranked WHERE rk <= 5
ORDER BY vec_id, rank"""

  /** Semantic grouping by MUTUAL-kNN connected components — the
   *  grouping stage of SemDeDup-style pruning and the classic
   *  community detector over embedding spaces: an undirected edge
   *  exists where BOTH endpoints list each other in their top-k at
   *  cosine >= `minCosine` (mutuality kills the hub problem — a
   *  centroid-ish vector near everything cannot glue unrelated docs
   *  together through one-directional edges), then components via the
   *  same min-label propagation the lexical cluster family uses
   *  ([[Clustering.connectedComponents]] — composability across
   *  families is the point). Output: one row per vector appearing in
   *  a mutual edge, with its cluster id and size.
   *
   *  Scale: the mutual filter is a self-join of the k-bounded edge
   *  list on the reversed key — |edges| <= k·|corpus| rows keyed on
   *  (vec, neighbor), nothing quadratic; propagation cost is rounds ×
   *  one keyed shuffle of the node set. */
  def semanticClusters(emb: DataFrame, k: Int = 5, minCosine: Double = 0.4,
                       numCentroids: Int = AutoCentroids,
                       precomputedQuantized: Option[DataFrame] = None,
                       trainedCentroids: Option[DataFrame] = None): DataFrame = {
    // r16: pin the k-bounded thresholded edge list before the mutual
    // self-join — both join sides otherwise re-ran the kNN rank window
    // (and everything above the verify's reused exchange) once each;
    // pinned, the mutual filter is a self-join of |V|·k-row blocks.
    val e = knnGraph(emb, k, numCentroids, precomputedQuantized, trainedCentroids)
      .filter(col("cosine") >= minCosine)
      .select("vec_id", "neighbor_id")
      .localCheckpoint()
    val mutual = e.join(
        e.select(col("neighbor_id").as("vec_id"), col("vec_id").as("neighbor_id")),
        Seq("vec_id", "neighbor_id"))
      .filter(col("vec_id") < col("neighbor_id"))
      .select(col("vec_id").as("doc_a"), col("neighbor_id").as("doc_b"))
    val comp = Clustering.componentsAuto(mutual)
    val sizes = comp.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "label")
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("vec_id")
  }

  /** [[knnGraphOracle]]'s chain + mutual filter + the same recursive
   *  transitive closure the lexical clusters oracle uses. The rounded
   *  cosine threshold compares the identical IEEE expression in both
   *  engines (precedent: [[dedupEmbeddingOracle]]). */
  /** The shared component chain: kNN candidates -> mutual filter ->
   *  recursive closure -> (vec_id, cluster_id) + sizes. Reused by the
   *  survivor oracle below. */
  private val semanticCompCteChain: String = "WITH RECURSIVE " + ivfAssignCte + """,
kpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
kpair_dots AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM kpairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b),
kranked AS (
  SELECT d.vec_a, d.vec_b,
         d.dot / (sqrt(na.nq) * sqrt(nb.nq)) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.vec_a
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_b) AS rk
  FROM kpair_dots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id),
ke AS (SELECT vec_a, vec_b FROM kranked WHERE rk <= 5 AND cosine >= 0.4),
mutual AS (
  SELECT e1.vec_a AS src, e1.vec_b AS dst
  FROM ke e1 JOIN ke e2 ON e1.vec_a = e2.vec_b AND e1.vec_b = e2.vec_a),
kreach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM mutual) t
  UNION
  SELECT r.src, m.dst FROM kreach r JOIN mutual m ON r.dst = m.src),
kcomp AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM kreach GROUP BY src),
kcsize AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM kcomp GROUP BY cluster_id)"""

  val semanticClustersOracle: String = semanticCompCteChain + """
SELECT c.vec_id, c.cluster_id, s.cluster_size
FROM kcomp c JOIN kcsize s ON c.cluster_id = s.cluster_id
ORDER BY c.vec_id"""

  /** The [[AutoCentroids]] codebook LIMIT as DuckDB SQL — the exact
   *  arithmetic [[resolveCentroids]] runs (max(32, floor(sqrt N)),
   *  N = the quantized-frame row count = |embeddings|), evaluated by
   *  DuckDB as a scalar-subquery LIMIT. */
  private val autoCentroidLimitSql: String =
    "LIMIT GREATEST(32, CAST(FLOOR(SQRT(CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE))) AS BIGINT))"

  /** Rows 115b/116b oracles: the pinned-32 chains VERBATIM with only
   *  the codebook LIMIT swapped for the corpus-derived AutoCentroids
   *  size — proving the shipped default end-to-end on both engines at
   *  every scale factor (at N <= 1024 the two coincide; above, the
   *  codebook grows as sqrt N). Lazy: derived from oracle vals above
   *  (object-init-order guard, CLAUDE.md). */
  lazy val knnGraphDefaultOracle: String =
    knnGraphOracle.replace("LIMIT 32", autoCentroidLimitSql)
  lazy val semanticClustersDefaultOracle: String =
    semanticClustersOracle.replace("LIMIT 32", autoCentroidLimitSql)

  /** SemDeDup's PRUNE step on top of [[semanticClusters]]: within
   *  each mutual-kNN semantic group, keep exactly one document and
   *  account for what pruning the rest costs. The survivor policy is
   *  the SAME (n_tok DESC, n_distinct DESC, doc_id ASC) credential
   *  argmax as the lexical [[Clustering.clusterCanonical]] — one
   *  policy definition across both families, so a curation pipeline
   *  that switches blocking (lexical n-gram vs embedding kNN) does
   *  not silently switch survivorship. vec_id joins doc_id 1:1 (the
   *  testdata contract [[lexicalVsEmbedding]] also relies on).
   *  Scale shape: the clusters frame is k-bounded-edge components,
   *  the credential join is keyed on doc_id, and the argmax is ONE
   *  map-side-combining struct-max aggregate — no per-cluster window
   *  over the corpus. */
  def semanticSurvivors(docs: DataFrame, emb: DataFrame, k: Int = 5,
                        minCosine: Double = 0.4,
                        numCentroids: Int = AutoCentroids): DataFrame = {
    val comp = semanticClusters(emb, k, minCosine, numCentroids)
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val cred = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
    comp.join(cred, "doc_id")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        sum("n_tok").as("total_tokens"),
        max(struct(col("n_tok"), col("n_distinct"),
          (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("best.neg_id")).as("keep_doc"),
        col("best.n_tok").as("keep_tokens"),
        (col("cluster_size") - 1L).as("pruned_docs"),
        (col("total_tokens") - col("best.n_tok")).as("pruned_tokens"))
      .orderBy("cluster_id")
  }

  /** [[semanticCompCteChain]] + the clusterCanonical-style argmax
   *  mirror (per-cluster ROW_NUMBER at oracle cardinality). */
  val semanticSurvivorsOracle: String = semanticCompCteChain + """,
scred AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
  FROM documents),
sj AS (
  SELECT c.cluster_id, c.vec_id AS doc_id, cr.n_tok, cr.n_distinct
  FROM kcomp c JOIN scred cr ON c.vec_id = cr.doc_id),
sbest AS (
  SELECT cluster_id, doc_id, n_tok,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
           ORDER BY n_tok DESC, n_distinct DESC, doc_id ASC) AS rn
  FROM sj),
stot AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens
  FROM sj GROUP BY cluster_id)
SELECT t.cluster_id, t.cluster_size,
       b.doc_id AS keep_doc, b.n_tok AS keep_tokens,
       t.cluster_size - 1 AS pruned_docs,
       t.total_tokens - b.n_tok AS pruned_tokens
FROM stot t JOIN sbest b ON b.cluster_id = t.cluster_id AND b.rn = 1
ORDER BY t.cluster_id"""

  /** Hubness diagnostic over the kNN graph: the IN-degree histogram —
   *  how many vectors are listed in d other vectors' top-k, including
   *  the never-referenced at d = 0. The embedding-space QA number
   *  behind [[semanticClusters]]' mutuality filter: a hub (in-degree
   *  >> k) glues unrelated docs through one-directional edges, and
   *  the mass in the histogram's tail is what decides whether k is
   *  too large or the space needs whitening before SemDeDup runs.
   *  Shape: the k-bounded edge list aggregates per neighbor (hot hub
   *  keys partial-combine), zero-degree vectors come from one left
   *  join against the vector ids, and the final histogram groups at
   *  degree cardinality. */
  def knnHubness(emb: DataFrame, k: Int = 5,
                 numCentroids: Int = AutoCentroids): DataFrame = {
    val indeg = knnGraph(emb, k, numCentroids)
      .groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    emb.select("vec_id").join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy("in_degree").agg(count(lit(1)).as("n_vectors"))
      .orderBy("in_degree")
  }

  /** Same kranked chain as [[knnGraphOracle]]; degree-0 mass via the
   *  same left join against all vector ids. */
  val knnHubnessOracle: String = "WITH " + ivfAssignCte + """,
kpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
kpair_dots AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM kpairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b),
kranked AS (
  SELECT d.vec_a, d.vec_b,
         ROW_NUMBER() OVER (PARTITION BY d.vec_a
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_b) AS rk
  FROM kpair_dots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id),
indeg AS (
  SELECT vec_b AS vec_id, CAST(COUNT(*) AS BIGINT) AS in_degree
  FROM kranked WHERE rk <= 5 GROUP BY vec_b),
deg AS (
  SELECT e.vec_id, COALESCE(i.in_degree, CAST(0 AS BIGINT)) AS in_degree
  FROM (SELECT vec_id FROM embeddings) e
  LEFT JOIN indeg i ON e.vec_id = i.vec_id)
SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM deg GROUP BY in_degree
ORDER BY in_degree"""

  /** Per-cell embedding outliers — the prototypicality readout behind
   *  SemDeDup-style pruning's complement: a vector far (by cosine)
   *  from its own IVF centroid sits on the fringe of every mode the
   *  codebook captured — mislabeled, noisy, or genuinely novel — and
   *  is the first candidate for manual audit or fringe-pruning.
   *  Output: for every cell, its population, its mean member-to-
   *  centroid cosine (cell cohesion), and the `perCell` most-outlying
   *  members ranked most-fringe-first.
   *
   *  Scale shape: assignment is the family's one broadcast-K pass
   *  (never a |corpus|² anything); cell stats are one map-side-
   *  combining groupBy to K rows; the only per-row sort is the
   *  top-`perCell` window partitioned BY CELL — the same
   *  top-k-per-group exchange [[knnGraph]] pays, hash-partitioned on
   *  cent_id, no global order. Exactness discipline: the mean cosine
   *  quantizes per row to integer milli units then SUMs
   *  ([[graft.pipeline.TextAnalysis.qualityDrift]] precedent);
   *  ranking compares the byte-identical IEEE cosine expression in
   *  both engines. */
  def embOutliers(emb: DataFrame, numCentroids: Int = 32, perCell: Int = 3,
                  precomputedQuantized: Option[DataFrame] = None,
                  trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse(quantized(emb))
    val centroids = trainedCentroids
      .map(_.select(col("cent_id"), col("qarr_a"), col("nq_a")))
      .getOrElse(hashCentroids(qv, numCentroids))
    val assigned = qv
      .select(col("vec_id"), col("qarr").as("qarr_b"), col("nq").as("nq_b"))
      .crossJoin(broadcast(centroids))
      .withColumn("cosine", expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .withColumn("rk", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cosine").desc, col("cent_id"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cent_id"), col("cosine"),
        floor(col("cosine") * lit(1000) + lit(0.5)).cast("long").as("qmilli"))
    val cells = assigned.groupBy("cent_id").agg(
      count(lit(1)).as("n_vecs"), sum("qmilli").as("qsum"))
    assigned
      .withColumn("outlier_rank", row_number().over(Window.partitionBy("cent_id")
        .orderBy(col("cosine").asc, col("vec_id"))))
      .filter(col("outlier_rank") <= perCell)
      .join(broadcast(cells), "cent_id")
      .select(col("cent_id"), col("n_vecs"),
        r4(col("qsum") * lit(1.0) / (col("n_vecs") * lit(1000.0)))
          .as("cell_mean_cosine"),
        col("outlier_rank").cast("long").as("outlier_rank"),
        col("vec_id"), r4(col("cosine")).as("cosine"))
      .orderBy("cent_id", "outlier_rank")
  }

  /** [[ivfAssignCte]]'s chain, keeping the winning cosine at rk=1;
   *  cell stats and the fringe ranking mirror the Spark expressions
   *  byte-for-byte. */
  val embOutliersOracle: String = "WITH " + ivfAssignCte + """,
acos AS (
  SELECT vec_id, cent_id, cosine FROM (
    SELECT vec_id, cent_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cent_id) AS rk
    FROM vc_cos) t WHERE rk = 1),
aq AS (
  SELECT vec_id, cent_id, cosine,
         CAST(FLOOR(cosine * 1000 + 0.5) AS BIGINT) AS qmilli
  FROM acos),
cells AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(qmilli) AS BIGINT) AS qsum
  FROM aq GROUP BY cent_id),
oranked AS (
  SELECT cent_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY cent_id ORDER BY cosine ASC, vec_id) AS orank
  FROM aq)
SELECT r.cent_id, c.n_vecs,
       FLOOR((c.qsum * 1.0 / (c.n_vecs * 1000.0)) * 10000.0 + 0.5) / 10000.0 AS cell_mean_cosine,
       CAST(r.orank AS BIGINT) AS outlier_rank, r.vec_id,
       FLOOR(r.cosine * 10000.0 + 0.5) / 10000.0 AS cosine
FROM oranked r JOIN cells c ON r.cent_id = c.cent_id
WHERE r.orank <= 3
ORDER BY r.cent_id, r.orank"""

  /** kNN-edge mutuality profile per rank — the calibration gauge for
   *  [[semanticClusters]]' mutual-edge filter (and the companion to
   *  [[knnHubness]]'s in-degree view): what fraction of rank-r edges
   *  are reciprocated at ANY rank. A mutual fraction collapsing with r
   *  says the chosen k reaches past the local neighborhood into hub
   *  attraction (raise the filter, or drop k); a flat-high profile
   *  says the space is symmetric and the mutuality filter is nearly
   *  free. Shape: the edge frame is k-bounded (|E| <= k|V|), eagerly
   *  cached ([[knnGraph]] precedent) and consumed by a left-semi
   *  self-join on the reversed key + two rank-cardinality rollups —
   *  nothing corpus-quadratic anywhere. */
  def knnMutuality(emb: DataFrame, k: Int = 5,
                   numCentroids: Int = AutoCentroids,
                   precomputedQuantized: Option[DataFrame] = None,
                   trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val g = knnGraph(emb, k, numCentroids, precomputedQuantized,
        trainedCentroids)
      .select(col("vec_id"), col("rank"), col("neighbor_id")).cache()
    g.count() // eager: 3 scans below (totals + both semi-join sides)
    val rev = g.select(col("neighbor_id").as("vec_id"),
      col("vec_id").as("neighbor_id"))
    val mut = g.join(rev, Seq("vec_id", "neighbor_id"), "left_semi")
      .groupBy("rank").agg(count(lit(1)).as("n_mutual"))
    g.groupBy("rank").agg(count(lit(1)).as("n_edges"))
      .join(mut, Seq("rank"), "left")
      .select(col("rank"), col("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        r4(coalesce(col("n_mutual"), lit(0L)) * lit(1.0) / col("n_edges"))
          .as("mutual_frac"))
      .orderBy("rank")
  }

  /** Same kranked chain as [[knnGraphOracle]]; mutuality is the edge
   *  self-join on the reversed key. */
  val knnMutualityOracle: String = "WITH " + ivfAssignCte + """,
kpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
kpair_dots AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM kpairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b),
kranked AS (
  SELECT d.vec_a, d.vec_b,
         ROW_NUMBER() OVER (PARTITION BY d.vec_a
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_b) AS rk
  FROM kpair_dots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id),
edges AS (SELECT vec_a, vec_b, rk FROM kranked WHERE rk <= 5),
mut AS (
  SELECT e.rk, CAST(COUNT(*) AS BIGINT) AS n_mutual
  FROM edges e JOIN edges r ON e.vec_a = r.vec_b AND e.vec_b = r.vec_a
  GROUP BY e.rk),
tot AS (SELECT rk, CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges GROUP BY rk)
SELECT CAST(t.rk AS BIGINT) AS rank, t.n_edges,
       COALESCE(m.n_mutual, 0) AS n_mutual,
       FLOOR((COALESCE(m.n_mutual, 0) * 1.0 / t.n_edges) * 10000.0 + 0.5) / 10000.0 AS mutual_frac
FROM tot t LEFT JOIN mut m ON t.rk = m.rk
ORDER BY rank"""

  /** Fixed-point PageRank centrality over the directed kNN graph —
   *  the representativeness score behind graph-based coreset
   *  selection (a vector many other vectors list among their nearest
   *  neighbors sits in a dense, well-covered region; rank-ordered
   *  selection keeps the modes of the distribution, prunes the
   *  fringe). Classic power iteration (Page et al. 1999), made
   *  cross-engine EXACT: float damping would accumulate
   *  engine-specific rounding over iterations, so ranks live in
   *  integer micro-units of 1e-12 (`SCALE`), the teleport term is
   *  `(15 * SCALE) div (100 * n)` and each neighbor contribution is
   *  `rank div out_deg` then `(85 * sum) div 100` — floor division at
   *  every step, identical in Spark (`div`) and DuckDB (`//`) for the
   *  all-positive operands here. Out-degree-0 vectors (no candidate
   *  in their IVF cell) keep receiving teleport mass but distribute
   *  none — their dangling mass is dropped rather than redistributed
   *  (documented deviation; redistribution needs a global scalar per
   *  iteration, a poor trade for one more all-to-one pass at scale).
   *
   *  Scale shape: the edge frame is k-bounded (|E| <= k|V|), built
   *  once and cached; each of the `iters` power steps is one keyed
   *  join + one partial-agg sum on dst — no corpus-wide window, no
   *  driver-side state, plan depth linear in the (small, fixed)
   *  iteration count. */
  def knnPagerank(emb: DataFrame, k: Int = 5, iters: Int = 5,
                  numCentroids: Int = AutoCentroids): DataFrame = {
    val nodes = emb.select("vec_id")
    val nFrame = nodes.agg(count(lit(1)).as("n"))
    // r16: pin the k-bounded edge list ONCE — `edges` feeds both the
    // degree aggregate and the edgesDeg join, and uncached the whole
    // kNN-graph chain (capped pairs + verify + rank window) re-ran
    // above its reused exchange per reference; pinned, everything
    // downstream of the graph reads |V|·k rows of blocks.
    val (graph, graphCaches) = knnGraphCaching(emb, k, numCentroids)
    val edges = graph
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    graphCaches.foreach(_.unpersist())
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "src").cache()
    // one (vec_id, n) row per vector, consumed by every iteration —
    // cached so the parquet scan + broadcast count runs once, not 6x
    val nodesN = nodes.crossJoin(broadcast(nFrame)).cache()
    var r = nodesN.select(col("vec_id"), col("n"),
      expr("1000000000000 div n").as("rank_fp"))
    for (_ <- 1 to iters) {
      val sums = r.join(edgesDeg, r("vec_id") === edgesDeg("src"))
        .select(col("dst"), expr("rank_fp div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      r = nodesN.join(sums, nodesN("vec_id") === sums("dst"), "left")
        .select(nodesN("vec_id"), col("n"),
          (expr("(15 * 1000000000000) div (100 * n)")
            + expr("(85 * coalesce(s, 0)) div 100")).as("rank_fp"))
    }
    val composed = r
      .join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("deg"), lit(0L)).as("out_deg"),
        col("rank_fp"),
        r4(col("rank_fp") * col("n") * lit(1.0) / lit(1.0e12)).as("rank_rel"))
      .orderBy("vec_id")
    // pinnedVerify cache-bracket discipline (ADVICE r16): force the
    // |V|-row result, then DROP the iteration caches — returning a
    // lazy frame over them leaked a CacheManager entry per call that
    // only the bench's clearCache() reclaimed.
    val out = composed.localCheckpoint()
    nodesN.unpersist()
    edgesDeg.unpersist()
    out
  }

  /** Same kranked chain as [[knnGraphOracle]]; the power iterations
   *  unroll as one CTE each, every arithmetic step the byte-identical
   *  floor-division expression the Spark side uses. */
  val knnPagerankOracle: String = {
    val head = "WITH " + ivfAssignCte + """,
kpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
kpair_dots AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM kpairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b),
kranked AS (
  SELECT d.vec_a, d.vec_b,
         ROW_NUMBER() OVER (PARTITION BY d.vec_a
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_b) AS rk
  FROM kpair_dots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id),
edges AS (SELECT vec_a AS src, vec_b AS dst FROM kranked WHERE rk <= 5),
degt AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
it0 AS (
  SELECT vec_id, n, 1000000000000 // n AS rank_fp
  FROM (SELECT vec_id FROM embeddings) CROSS JOIN nn)"""
    val its = (1 to 5).map { i =>
      s""",
it$i AS (
  SELECT nd.vec_id, nd.n,
         (15 * 1000000000000) // (100 * nd.n)
         + (85 * COALESCE(s.s, 0)) // 100 AS rank_fp
  FROM it${i - 1} nd LEFT JOIN (
    SELECT e.dst, CAST(SUM(r.rank_fp // d.deg) AS BIGINT) AS s
    FROM it${i - 1} r JOIN edges e ON r.vec_id = e.src
    JOIN degt d ON e.src = d.src
    GROUP BY e.dst) s ON nd.vec_id = s.dst)"""
    }.mkString
    head + its + """
SELECT nd.vec_id, COALESCE(d.deg, 0) AS out_deg, nd.rank_fp,
       FLOOR((nd.rank_fp * nd.n * 1.0 / 1000000000000.0) * 10000.0 + 0.5)
         / 10000.0 AS rank_rel
FROM it5 nd LEFT JOIN degt d ON nd.vec_id = d.src
ORDER BY nd.vec_id"""
  }

  /** ANN recall evaluation — "measure, don't guess" for the LSH path:
   *  per query, how much of the TRUE cosine top-k ([[annTopK]], the
   *  exact baseline) the bucketed [[annLsh]] pipeline (nibble blocking
   *  + minCosine verify) actually returns. The number a pipeline owner
   *  watches when tuning bands/planes/threshold — a recall cliff here
   *  is the signal to re-train the codebook or widen the bands, caught
   *  on a QUERY SAMPLE before it silently degrades production joins.
   *  Scale shape: ground truth is the brute-force pass, so this runs
   *  on a bounded query sample by design (the same broadcast-bounded
   *  contract annTopK itself has); the join back to the LSH result
   *  keys on (query_id, vec_id) at sample cardinality. Counts are
   *  integers; recall is one final division. */
  def annRecall(emb: DataFrame, queries: DataFrame, k: Int = 10,
                minCosine: Double = 0.3): DataFrame = {
    val truth = annTopK(emb, queries, k).select("query_id", "vec_id")
    val approx = annLsh(emb, queries, minCosine)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id").agg(
        count(lit(1)).as("truth_k"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("truth_k"), col("hits"),
        r4(col("hits") * lit(1.0) / col("truth_k")).as("recall_at_k"))
      .orderBy("query_id")
  }

  val annRecallOracle: String = "WITH " + planeFpCte + """,
tdots AS (
  SELECT qs.vec_id AS query_id, v.vec_id, CAST(SUM(qs.q * v.q) AS BIGINT) AS dot
  FROM qv qs JOIN qv v ON qs.i = v.i
  WHERE qs.vec_id % 100 = 0 AND qs.vec_id < 2000 AND qs.vec_id <> v.vec_id
  GROUP BY qs.vec_id, v.vec_id),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT d.query_id, d.vec_id,
           ROW_NUMBER() OVER (PARTITION BY d.query_id
             ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_id) AS rk
    FROM tdots d
    JOIN nr na ON d.query_id = na.vec_id
    JOIN nr nb ON d.vec_id = nb.vec_id)
  WHERE rk <= 10),
lcands AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id
  FROM nib a JOIN nib b ON a.band = b.band AND a.nibv = b.nibv
  WHERE a.vec_id % 100 = 0 AND a.vec_id < 2000 AND a.vec_id <> b.vec_id),
ldots AS (
  SELECT c.query_id, c.vec_id, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM lcands c
  JOIN qv qa ON qa.vec_id = c.query_id
  JOIN qv qb ON qb.vec_id = c.vec_id AND qb.i = qa.i
  GROUP BY c.query_id, c.vec_id),
lsh AS (
  SELECT d.query_id, d.vec_id
  FROM ldots d
  JOIN nr na ON d.query_id = na.vec_id
  JOIN nr nb ON d.vec_id = nb.vec_id
  WHERE d.dot / (sqrt(na.nq) * sqrt(nb.nq)) >= 0.3)
SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS truth_k,
       CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       FLOOR((SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS recall_at_k
FROM truth t
LEFT JOIN lsh l ON t.query_id = l.query_id AND t.vec_id = l.vec_id
GROUP BY t.query_id
ORDER BY t.query_id"""

  /** Recall@k SWEEP over the LSH serving path — the
   *  ranking-resolution view [[annRecall]]'s single k=10 number hides:
   *  recall@1 says whether the index finds the single best match
   *  (lookup workloads), recall@10 whether it recovers the
   *  neighborhood (kNN features); an index can score 0.9@10 while
   *  missing half the top-1s. ONE brute-force truth pass at max k +
   *  one LSH candidate set, then the ≤|truth|×|grid| explode of the
   *  hit-flagged truth rows against the broadcast k grid — no
   *  re-search per k. Micro-averaged over queries (total hits /
   *  total truth rows at each k), integer counts, one final
   *  division per row. */
  def annRecallSweep(emb: DataFrame, queries: DataFrame,
                     ks: Seq[Int] = Seq(1, 5, 10),
                     minCosine: Double = 0.3): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val maxK = ks.max
    val truth = annTopK(emb, queries, maxK)
      .select(col("query_id"), col("rank"), col("vec_id"))
    val approx = annLsh(emb, queries, minCosine)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    val flagged = truth.join(approx, Seq("query_id", "vec_id"), "left")
    val grid = ks.map(_.toLong).toDF("k")
    flagged.crossJoin(broadcast(grid))
      .filter(col("rank") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("truth_rows"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("k"), col("truth_rows"), col("hits"),
        r4(col("hits") * lit(1.0) / col("truth_rows")).as("recall"))
      .orderBy("k")
  }

  /** [[annRecallOracle]]'s truth/lsh chain with the rank kept and the
   *  same k-grid fold. */
  val annRecallSweepOracle: String = "WITH " + planeFpCte + """,
tdots AS (
  SELECT qs.vec_id AS query_id, v.vec_id, CAST(SUM(qs.q * v.q) AS BIGINT) AS dot
  FROM qv qs JOIN qv v ON qs.i = v.i
  WHERE qs.vec_id % 100 = 0 AND qs.vec_id < 2000 AND qs.vec_id <> v.vec_id
  GROUP BY qs.vec_id, v.vec_id),
truth AS (
  SELECT query_id, vec_id, rk FROM (
    SELECT d.query_id, d.vec_id,
           ROW_NUMBER() OVER (PARTITION BY d.query_id
             ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_id) AS rk
    FROM tdots d
    JOIN nr na ON d.query_id = na.vec_id
    JOIN nr nb ON d.vec_id = nb.vec_id)
  WHERE rk <= 10),
lcands AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id
  FROM nib a JOIN nib b ON a.band = b.band AND a.nibv = b.nibv
  WHERE a.vec_id % 100 = 0 AND a.vec_id < 2000 AND a.vec_id <> b.vec_id),
ldots AS (
  SELECT c.query_id, c.vec_id, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM lcands c
  JOIN qv qa ON qa.vec_id = c.query_id
  JOIN qv qb ON qb.vec_id = c.vec_id AND qb.i = qa.i
  GROUP BY c.query_id, c.vec_id),
lsh AS (
  SELECT d.query_id, d.vec_id
  FROM ldots d
  JOIN nr na ON d.query_id = na.vec_id
  JOIN nr nb ON d.vec_id = nb.vec_id
  WHERE d.dot / (sqrt(na.nq) * sqrt(nb.nq)) >= 0.3),
flagged AS (
  SELECT t.query_id, t.rk,
         CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t
  LEFT JOIN lsh l ON t.query_id = l.query_id AND t.vec_id = l.vec_id),
grid(k) AS (VALUES (1), (5), (10))
SELECT CAST(g.k AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS truth_rows,
       CAST(SUM(f.hit) AS BIGINT) AS hits,
       FLOOR((SUM(f.hit) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS recall
FROM flagged f JOIN grid g ON f.rk <= g.k
GROUP BY g.k ORDER BY k"""

  /** IVF probe-count sweep — the recall/cost trade-off curve an index
   *  owner reads before fixing `nprobe` in production: for each probe
   *  count, the candidate-list size the probes generate (the cost —
   *  exact-verify work grows linearly in it) and recall@k against the
   *  brute-force truth ([[annTopK]]'s exact cosine ranking). Because
   *  candidates are ranked by the SAME exact cosine the truth uses,
   *  a truth member reaching the candidate list always survives the
   *  final top-k cut (nothing outside the global top-k can outrank
   *  it), so recall counts candidate∩truth directly — no second
   *  ranking stage on either engine.
   *
   *  Scale shape: ONE probe ranking pass at max(nprobe) (the sweep
   *  points are a 3-row broadcast unrolled by `rk <= nprobe`, not
   *  re-probes), the same K-bounded broadcast centroid assignment
   *  [[annIvf]] uses, and the bounded-query-sample contract of
   *  [[annRecall]] (ground truth is brute force by design). */
  def ivfProbeSweep(emb: DataFrame, queries: DataFrame, k: Int = 10,
                    probeNs: Seq[Int] = Seq(1, 2, 4),
                    numCentroids: Int = 32): DataFrame = {
    val qv = quantized(emb).cache()
    val centroids = hashCentroids(qv, numCentroids)
    val assigned = nearestCentroids(qv, centroids, 1)
    val maxP = probeNs.max
    val probeRk = quantized(queries)
      .select(col("vec_id").as("query_id"), col("qarr").as("qarr_b"),
        col("nq").as("nq_b"))
      .crossJoin(broadcast(centroids))
      .withColumn("cosine",
        expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("cent_id"))))
      .filter(col("rk") <= maxP)
      .select(col("query_id"), col("cent_id"), col("rk"))
    val nps = emb.sparkSession.range(1)
      .select(explode(array(probeNs.map(n => lit(n.toLong)): _*)).as("nprobe"))
    val cands = probeRk.crossJoin(broadcast(nps))
      .filter(col("rk") <= col("nprobe"))
      .join(assigned, "cent_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select("nprobe", "query_id", "vec_id").distinct()
    val truth = annTopK(emb, queries, k).select("query_id", "vec_id")
    val perNp = cands
      .join(truth.withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
      .groupBy("nprobe").agg(
        count(lit(1)).as("candidates_total"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
    val truthTotal = truth.agg(count(lit(1)).as("truth_total"))
    nps.join(perNp, Seq("nprobe"), "left")
      .crossJoin(broadcast(truthTotal))
      .select(col("nprobe"),
        coalesce(col("candidates_total"), lit(0L)).as("candidates_total"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("truth_total"),
        r4(coalesce(col("hits"), lit(0L)) * lit(1.0) / col("truth_total"))
          .as("recall_at_k"))
      .orderBy("nprobe")
  }

  /** Shares [[ivfAssignCte]]'s codebook/assignment chain and
   *  [[annRecallOracle]]'s brute-force truth CTE; the sweep points are
   *  a VALUES list joined on `rk <= nprobe`, exactly the Spark side's
   *  broadcast unroll. */
  val ivfProbeSweepOracle: String = "WITH " + ivfAssignCte + """,
probe_ns AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
probes AS (
  SELECT vec_id AS query_id, cent_id, rk FROM (
    SELECT vec_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cent_id) AS rk
    FROM vc_cos WHERE vec_id % 100 = 0 AND vec_id < 2000) t WHERE rk <= 4),
tdots AS (
  SELECT qs.vec_id AS query_id, v.vec_id, CAST(SUM(qs.q * v.q) AS BIGINT) AS dot
  FROM qv qs JOIN qv v ON qs.i = v.i
  WHERE qs.vec_id % 100 = 0 AND qs.vec_id < 2000 AND qs.vec_id <> v.vec_id
  GROUP BY qs.vec_id, v.vec_id),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT d.query_id, d.vec_id,
           ROW_NUMBER() OVER (PARTITION BY d.query_id
             ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_id) AS rk
    FROM tdots d
    JOIN nr na ON d.query_id = na.vec_id
    JOIN nr nb ON d.vec_id = nb.vec_id)
  WHERE rk <= 10),
cands AS (
  SELECT DISTINCT pn.nprobe, p.query_id, a.vec_id
  FROM probes p JOIN probe_ns pn ON p.rk <= pn.nprobe
  JOIN assigned a ON p.cent_id = a.cent_id
  WHERE p.query_id <> a.vec_id),
per AS (
  SELECT c.nprobe, CAST(COUNT(*) AS BIGINT) AS candidates_total,
         CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM cands c
  LEFT JOIN truth t ON c.query_id = t.query_id AND c.vec_id = t.vec_id
  GROUP BY c.nprobe),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS truth_total FROM truth)
SELECT pn.nprobe,
       COALESCE(per.candidates_total, 0) AS candidates_total,
       COALESCE(per.hits, 0) AS hits,
       tt.truth_total,
       FLOOR((COALESCE(per.hits, 0) * 1.0 / tt.truth_total) * 10000.0 + 0.5)
         / 10000.0 AS recall_at_k
FROM probe_ns pn CROSS JOIN tt LEFT JOIN per ON pn.nprobe = per.nprobe
ORDER BY pn.nprobe"""

  /** Per-label embedding geometry — the collection-health report a
   *  vector store publishes per class/cluster: population, mean
   *  squared norm, centroid norm, and total variance (dispersion
   *  around the centroid). A tight class has high centroid norm and
   *  low dispersion; a garbage or mixed class the reverse — the
   *  first-look signal for label noise and embedding drift.
   *
   *  Everything is derived from the per-(label, dim) INTEGER sums
   *  `s = Σq` and `ss = Σq²` over milli-unit quantized components:
   *    mean_norm_sq     = Σ_d ss / (n · 10⁶)
   *    centroid_norm_sq = Σ_d s² / (n² · 10⁶)
   *    dispersion       = (Σ_d ss · n − Σ_d s²) / (n² · 10⁶)
   *  — the E[‖x‖²] − ‖E[x]‖² identity computed as ONE double division
   *  over exact integers, so the result is identical under any
   *  aggregation order and engine. (Integer headroom: |q| ≤ ~2·10³,
   *  so Σs² stays under 2⁵³ up to ~10⁸ vectors per label; beyond
   *  that, per-label population alone forces a sharded rollup
   *  anyway.) Shape at scale: one in-row posexplode (×64 fan-out
   *  BEFORE the only exchange), a map-side-combining (label, dim)
   *  aggregation, then a label-cardinality rollup — no window, no
   *  join, no collect. */
  def labelStats(emb: DataFrame): DataFrame = {
    val perDim = emb
      .select(col("label"),
        posexplode(call_function("quantize_milli", col("embedding")))
          .as(Seq("dim", "q")))
      .groupBy("label", "dim").agg(
        count(lit(1)).as("cnt"),
        sum("q").as("s"),
        sum(col("q") * col("q")).as("ss"))
    perDim.groupBy("label").agg(
      max("cnt").as("n_vecs"),
      sum("ss").as("ss_sum"),
      sum(col("s") * col("s")).as("s2_sum"))
      .select(
        col("label").cast("long").as("label"),
        col("n_vecs"),
        r4(col("ss_sum") / (col("n_vecs") * lit(1000000.0))).as("mean_norm_sq"),
        r4(col("s2_sum") / (col("n_vecs") * col("n_vecs") * lit(1000000.0)))
          .as("centroid_norm_sq"),
        r4((col("ss_sum") * col("n_vecs") - col("s2_sum"))
          / (col("n_vecs") * col("n_vecs") * lit(1000000.0))).as("dispersion"))
      .orderBy("label")
  }

  val labelStatsOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT label, vec_id, i,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
per_dim AS (
  SELECT label, i,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(q) AS BIGINT) AS s,
         CAST(SUM(q * q) AS BIGINT) AS ss
  FROM qv GROUP BY label, i),
per_label AS (
  SELECT label,
         CAST(MAX(cnt) AS BIGINT) AS n_vecs,
         CAST(SUM(ss) AS BIGINT) AS ss_sum,
         CAST(SUM(s * s) AS BIGINT) AS s2_sum
  FROM per_dim GROUP BY label)
SELECT CAST(label AS BIGINT) AS label, n_vecs,
       FLOOR((ss_sum / (n_vecs * 1000000.0)) * 10000.0 + 0.5) / 10000.0 AS mean_norm_sq,
       FLOOR((s2_sum / (n_vecs * n_vecs * 1000000.0)) * 10000.0 + 0.5) / 10000.0 AS centroid_norm_sq,
       FLOOR(((ss_sum * n_vecs - s2_sum) / (n_vecs * n_vecs * 1000000.0)) * 10000.0 + 0.5) / 10000.0 AS dispersion
FROM per_label
ORDER BY label"""

  /** Coverage-preserving diversity downsample: keep a deterministic
   *  `keepPct`% of each IVF cell — the semantic-space-stratified
   *  subsample that shrinks a corpus without collapsing its coverage
   *  (a uniform hash sample keeps dense regions dense and starves the
   *  tails; per-cell quotas keep every region represented — the
   *  cheap, deterministic cousin of coreset selection, which
   *  [[knnPagerank]] ranks within). Every cell retains AT LEAST one
   *  member (the coverage guarantee), and selection inside a cell is
   *  by content-independent md5(vec_id) order — append-stable like
   *  [[graft.pipeline.Sampling.splitAssign]], so re-running on a
   *  grown corpus never un-picks a previously kept vector's hash
   *  position. Shape at scale: the shared broadcast-K assignment
   *  pass, a cell-cardinality count, and ONE rank window partitioned
   *  by cell (hash-partitioned; per-cell sort is the sampling cost,
   *  bounded by the largest cell — raise `numCentroids` when cells
   *  outgrow a partition). */
  def diversitySample(emb: DataFrame, keepPct: Int = 25,
                      numCentroids: Int = AutoCentroids,
                      precomputedQuantized: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val assigned =
      nearestCentroids(qv, hashCentroids(qv, resolveCentroids(qv, numCentroids)), 1)
    val cellN = assigned.groupBy("cent_id").agg(count(lit(1)).as("cell_n"))
    assigned
      .withColumn("rk", row_number().over(Window.partitionBy("cent_id")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))))
      .join(broadcast(cellN), "cent_id")
      .withColumn("cell_kept",
        greatest(lit(1L), expr(s"(cell_n * $keepPct) div 100")))
      .filter(col("rk") <= col("cell_kept"))
      .select(col("vec_id"), col("cent_id"), col("cell_n"), col("cell_kept"))
      .orderBy("vec_id")
  }

  /** Shares [[ivfAssignCte]]; the per-cell pick is the same
   *  md5-order ROW_NUMBER the codebook CTE already proves
   *  cross-engine. */
  val diversitySampleOracle: String = "WITH " + ivfAssignCte + """,
cell_n AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS cell_n
  FROM assigned GROUP BY cent_id),
ranked AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY cent_id
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
  FROM assigned)
SELECT r.vec_id, r.cent_id, c.cell_n,
       GREATEST(1, (c.cell_n * 25) // 100) AS cell_kept
FROM ranked r JOIN cell_n c ON r.cent_id = c.cent_id
WHERE r.rk <= GREATEST(1, (c.cell_n * 25) // 100)
ORDER BY r.vec_id"""

  /** Semantic-cell × language composition — is the embedding space
   *  language-STRATIFIED? If IVF cells are language-pure, "semantic"
   *  clustering is mostly re-discovering language identity and every
   *  cross-lingual near-dup ([[dedupSemantic]] on translated
   *  boilerplate) is invisible to it; mixed cells mean the space
   *  actually encodes topic across languages. The readout that
   *  decides whether embedding dedup complements or merely duplicates
   *  `lang_id`-conditioned lexical dedup. Per (cell, lang): docs,
   *  within-cell share; cells with no covered doc don't appear (see
   *  [[embeddingCoverage]] for the blind-spot accounting). Shape: the
   *  shared broadcast-K assignment, one doc_id-keyed join to labels,
   *  one map-side agg to |cells|×|langs|, share window over that
   *  bounded frame only. */
  def topicPurity(docs: DataFrame, emb: DataFrame,
                  numCentroids: Int = 32): DataFrame = {
    val qv = quantized(emb)
    val assigned = nearestCentroids(qv, hashCentroids(qv, numCentroids), 1)
    val cells = assigned
      .join(docs.select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
      .groupBy("cent_id", "lang").agg(count(lit(1)).as("n_docs"))
    val cellW = Window.partitionBy("cent_id")
    cells
      .withColumn("cell_docs", sum("n_docs").over(cellW))
      .select(col("cent_id"), col("lang"), col("n_docs"), col("cell_docs"),
        r4(col("n_docs") * lit(1.0) / col("cell_docs")).as("lang_share"))
      .orderBy("cent_id", "lang")
  }

  /** Shares [[ivfAssignCte]]; the share window runs over the
   *  cell-frame aggregate only. */
  val topicPurityOracle: String = "WITH " + ivfAssignCte + """,
cells AS (
  SELECT a.cent_id, d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM assigned a JOIN documents d ON a.vec_id = d.doc_id
  GROUP BY a.cent_id, d.lang),
w AS (
  SELECT cent_id, lang, n_docs,
         CAST(SUM(n_docs) OVER (PARTITION BY cent_id) AS BIGINT) AS cell_docs
  FROM cells)
SELECT cent_id, lang, n_docs, cell_docs,
       FLOOR((n_docs * 1.0 / cell_docs) * 10000.0 + 0.5) / 10000.0 AS lang_share
FROM w
ORDER BY cent_id, lang"""

  /** Corpus-wide dominant embedding direction by fixed-point POWER
   *  ITERATION over the integer Gram matrix — the anisotropy readout
   *  (Ethayarajh 2019; Mu & Viswanath 2018 "all-but-the-top") that
   *  decides whether embeddings need mean-removal / whitening BEFORE
   *  the cosine-based family ([[dedupSemantic]], [[annLsh]],
   *  [[knnGraph]]) is trusted: a common dominant direction inflates
   *  every cosine and collapses LSH bucket diversity. Per dim:
   *  `gram_diag` (exact Σq²), `var_share_ppm` (its share of the
   *  trace), `mean_milli` (mean coordinate — eyeballs whether the
   *  dominant direction IS the mean direction), `loading` (the
   *  fixed-point eigenvector estimate after `iters` iterations).
   *
   *  Scale shape: ONE corpus pass — a 64×64 in-row fan-out
   *  (posexplode twice over the same row, no self-join) partial-aggs
   *  to the 4096-key Gram frame; every later step (rescale, the
   *  matrix-vector iterations, the final projection) runs on that
   *  d²-row frame and a 64-row vector, never the corpus. Compute is
   *  d² multiplies per vector — heavy but linear, map-side combined;
   *  run it on a hash-sampled subset when d² × N passes matter.
   *
   *  Cross-engine exactness: every quantity is integer. Overflow is
   *  controlled by SHIFT rescaling: the Gram matrix is divided by
   *  2^max(bitlen(max|g|)−30, 0) and each iterate by
   *  2^max(bitlen(max|y|)−20, 0), so |G'| ≤ 2³⁰, |v| ≤ 2²⁰ and the
   *  64-term matrix-vector products stay ≤ 2⁵⁶ < 2⁶³. bitlen is
   *  `length(bin(x))` in BOTH engines (no leading zeros either side);
   *  all signed divisions are sign-split `-((-x) div p)` so Spark's
   *  toward-zero `div` and DuckDB's floor `//` agree. */
  /** Per-DIMENSION variance profile — the dead/collapsed-dimension
   *  detector every embedding QA pass runs before trusting cosine
   *  geometry: a dimension whose variance is ~0 carries no signal
   *  (dead ReLU channel, truncated export, padded dims) and inflates
   *  every norm; a handful of dominant-variance dims means the space
   *  is effectively low-rank (anisotropy — [[principalDirection]]
   *  names the direction, THIS names the axes). Integer-exact: per
   *  dim, n / Σq / Σq² accumulate as BIGINTs over the quantized
   *  grid; mean and variance are single double expressions over
   *  those exact sums (population variance, (Σq² − (Σq)²/n)/n),
   *  r4-rounded. One |vecs|×64 posexplode partial agg to 64 rows —
   *  the family's standard projection pass, no joins. */
  def embDimVariance(emb: DataFrame, deadVar: Double = 1.0): DataFrame = {
    val qd = emb.select(
        posexplode(call_function("quantize_milli", col("embedding")))
          .as(Seq("dim", "q")))
    qd.groupBy("dim").agg(
        count(lit(1)).as("n_vecs"),
        sum("q").as("sq"),
        sum(col("q") * col("q")).as("sq2"))
      .select(col("dim").cast("long").as("dim"), col("n_vecs"),
        r4(col("sq") * lit(1.0) / col("n_vecs")).as("q_mean"),
        // square in DOUBLE: sq is ~1e13 at 1e10 vectors, sq*sq would
        // overflow BIGINT (the event_rate_anomalies lesson); both
        // engines run (double)sq * sq — identical IEEE ops
        r4((col("sq2") - col("sq").cast("double") * col("sq") / col("n_vecs"))
          / col("n_vecs")).as("q_var"),
        when((col("sq2") - col("sq").cast("double") * col("sq") / col("n_vecs"))
          / col("n_vecs") < deadVar, 1L).otherwise(0L).as("is_dead"))
      .orderBy("dim")
  }

  /** Same integer sums; DuckDB's 1-based list index maps to the
   *  0-based `dim`. */
  val embDimVarianceOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qd AS (
  SELECT i - 1 AS dim, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
agg AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(q * q) AS BIGINT) AS sq2
  FROM qd GROUP BY dim)
SELECT CAST(dim AS BIGINT) AS dim, n_vecs,
       FLOOR((sq * 1.0 / n_vecs) * 10000.0 + 0.5) / 10000.0 AS q_mean,
       FLOOR(((sq2 - CAST(sq AS DOUBLE) * sq / n_vecs) / n_vecs) * 10000.0 + 0.5) / 10000.0 AS q_var,
       CAST(CASE WHEN (sq2 - CAST(sq AS DOUBLE) * sq / n_vecs) / n_vecs < 1.0
             THEN 1 ELSE 0 END AS BIGINT) AS is_dead
FROM agg
ORDER BY dim"""

  def principalDirection(emb: DataFrame, iters: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qv = emb.select(col("vec_id"),
      call_function("quantize_milli", col("embedding"))
        .as("qarr"))
    val pairs = qv
      .select(col("qarr"), posexplode(col("qarr")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"), posexplode(col("qarr")).as(Seq("j", "qj")))
    // The Gram matrix is d² rows — bounded by DIMENSION, independent of
    // corpus size — so it collects (the same bounded-driver-work class
    // as the CC convergence count), and the power iterations run as
    // driver scalar arithmetic: distributing 4 iterations of 64-row
    // matrix-vector products costs ~15 scheduler stages for bytes of
    // data (measured 6.9 s at sf0.1, ~0.5 s of it compute). The
    // distributed work is exactly the two corpus passes (Gram, mean).
    val gramRows = pairs.groupBy("i", "j")
      .agg(sum(col("qi") * col("qj")).as("g")).collect()
    val g = Array.ofDim[Long](Dims, Dims)
    gramRows.foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    // bitlen/shift/sign-split identical to the oracle's
    // length(bin(x)) / (1 << s) / -((-x) // p) spelling
    def bitlen(x: Long): Int =
      if (x == 0L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(x)
    def sdiv(x: Long, p: Long): Long = if (x < 0) -((-x) / p) else x / p
    val gmax = g.iterator.flatMap(_.iterator).map(math.abs).max
    val s = math.max(bitlen(gmax) - 30, 0)
    val gs = g.map(_.map(sdiv(_, 1L << s)))
    var v = Array.fill(Dims)(1048576L)
    for (_ <- 1 to iters) {
      val y = Array.tabulate(Dims)(i =>
        (0 until Dims).map(j => gs(i)(j) * v(j)).sum)
      val t = math.max(bitlen(y.iterator.map(math.abs).max) - 20, 0)
      v = y.map(sdiv(_, 1L << t))
    }
    val trace = (0 until Dims).map(i => g(i)(i)).sum
    val local = (0 until Dims).map { i =>
      (i.toLong, g(i)(i), (g(i)(i) * 1000000L) / math.max(trace, 1L), v(i))
    }.toDF("dim", "gram_diag", "var_share_ppm", "loading")
    val mean = qv
      .select(posexplode(col("qarr")).as(Seq("dim", "q")))
      .groupBy("dim").agg(sum("q").as("sq"), count(lit(1)).as("n"))
      .select(col("dim").cast("long").as("dim"),
        expr("CASE WHEN sq < 0 THEN -((-sq) div n) ELSE sq div n END")
          .as("mean_milli"))
    mean.join(broadcast(local), "dim")
      .select(col("dim"), col("gram_diag"), col("var_share_ppm"),
        col("mean_milli"), col("loading"))
      .orderBy("dim")
  }

  /** Mirrors [[principalDirection]] with the power iterations unrolled
   *  one CTE each (the [[knnPagerankOracle]] discipline); every
   *  arithmetic step is the byte-identical shift/sign-split integer
   *  expression, so the whole readout — loadings included — matches
   *  bit-for-bit. */
  val principalDirectionOracle: String = {
    val head = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
gram AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
  FROM qv a JOIN qv b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i),
gshift AS (SELECT GREATEST(LENGTH(BIN(MAX(ABS(g)))) - 30, 0) AS s FROM gram),
gsc AS (
  SELECT i, j,
         CASE WHEN g < 0 THEN -((-g) // (1::BIGINT << s))
              ELSE g // (1::BIGINT << s) END AS g
  FROM gram, gshift),
v0 AS (SELECT i AS j, CAST(1048576 AS BIGINT) AS v FROM dims)"""
    val its = (1 to 4).map { t =>
      s""",
y$t AS (
  SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS y
  FROM gsc g JOIN v${t - 1} v ON g.j = v.j GROUP BY g.i),
m$t AS (SELECT GREATEST(LENGTH(BIN(MAX(ABS(y)))) - 20, 0) AS t FROM y$t),
v$t AS (
  SELECT y.i AS j,
         CASE WHEN y < 0 THEN -((-y) // (1::BIGINT << t))
              ELSE y // (1::BIGINT << t) END AS v
  FROM y$t y, m$t)"""
    }.mkString
    head + its + """,
diag AS (SELECT i, g FROM gram WHERE i = j),
trace AS (SELECT CAST(SUM(g) AS BIGINT) AS tr FROM diag),
meanv AS (
  SELECT i, CAST(SUM(q) AS BIGINT) AS sq, CAST(COUNT(*) AS BIGINT) AS n
  FROM qv GROUP BY i)
SELECT d.i - 1 AS dim, d.g AS gram_diag,
       (d.g * 1000000) // GREATEST(t.tr, 1) AS var_share_ppm,
       CASE WHEN m.sq < 0 THEN -((-m.sq) // m.n) ELSE m.sq // m.n END AS mean_milli,
       v.v AS loading
FROM diag d
JOIN v4 v ON v.j = d.i
JOIN meanv m ON m.i = d.i
CROSS JOIN trace t
ORDER BY dim"""
  }

  /** Embedding-coverage QA: per source, how much of the corpus (docs
   *  AND token mass) actually HAS an embedding — the gate before any
   *  embedding-dependent operator is trusted ([[dedupEmbedding]] and
   *  ANN silently skip uncovered docs, so a 60%-covered source makes
   *  "embedding dedup found nothing" meaningless). One id-keyed left
   *  join + one map-side aggregate to source cardinality; coverage
   *  fractions are single divisions of exact integer counts. */
  def embeddingCoverage(docs: DataFrame, emb: DataFrame): DataFrame = {
    val has = emb.select(col("vec_id").as("doc_id")).distinct()
      .withColumn("has_emb", lit(1L))
    docs.select(col("doc_id"), col("source"),
        expr("(n_chars + 3) div 4").as("bpe"))
      .join(has, Seq("doc_id"), "left")
      .withColumn("has_emb", coalesce(col("has_emb"), lit(0L)))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("has_emb").as("n_with_emb"),
        sum("bpe").as("n_tokens"),
        sum(col("bpe") * col("has_emb")).as("tokens_with_emb"))
      .select(col("source"), col("n_docs"), col("n_with_emb"),
        r4(col("n_with_emb") * lit(1.0) / col("n_docs")).as("doc_coverage"),
        col("n_tokens"), col("tokens_with_emb"),
        r4(col("tokens_with_emb") * lit(1.0) / col("n_tokens"))
          .as("token_coverage"))
      .orderBy("source")
  }

  val embeddingCoverageOracle: String = """
WITH has AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings),
j AS (
  SELECT d.source, (d.n_chars + 3) // 4 AS bpe,
         CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS has_emb
  FROM documents d LEFT JOIN has h ON d.doc_id = h.doc_id)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(has_emb) AS BIGINT) AS n_with_emb,
       FLOOR((SUM(has_emb) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS doc_coverage,
       CAST(SUM(bpe) AS BIGINT) AS n_tokens,
       CAST(SUM(bpe * has_emb) AS BIGINT) AS tokens_with_emb,
       FLOOR((SUM(bpe * has_emb) * 1.0 / SUM(bpe)) * 10000.0 + 0.5) / 10000.0 AS token_coverage
FROM j
GROUP BY source
ORDER BY source"""

  /** Per-label embedding-NORM profile — the degenerate-vector QA gate
   *  an embedding store runs before trusting cosine anywhere: a
   *  near-zero norm is a failed/empty encode (its cosine is noise or
   *  pinned 0 by the zero-norm CASE every operator carries), a
   *  far-tail norm is a scaling bug, and a label whose norm band
   *  shifted is a re-encoded shard mixed into an old index
   *  ([[embeddingCoverage]] says vectors EXIST; this says they're
   *  usable). Norms in exact integer milli-units
   *  (`floor(sqrt(nq))` — nq is the exact quantized squared norm,
   *  IEEE sqrt of an exactly-representable integer floors identically
   *  on both engines), quantiles by the [[HistogramRank]] discipline:
   *  the corpus collapses to a per-(label, norm) histogram FIRST, the
   *  rank windows run over that bounded frame only — never a
   *  corpus-cardinality sort. */
  def embNormQuantiles(emb: DataFrame): DataFrame = {
    val t = quantized(emb)
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")),
        "vec_id")
      .select(col("label"),
        floor(sqrt(col("nq"))).cast("long").as("norm_milli"))
    val hist = t.groupBy("label", "norm_milli").agg(count(lit(1)).as("cnt"))
    val cum = HistogramRank.cumulate(hist, Seq("label"), "norm_milli")
    def at(p: Double) = HistogramRank.at("norm_milli", p)
    cum.groupBy("label").agg(
      max("n").as("n_vectors"),
      sum(when(col("norm_milli") === 0L, col("cnt")).otherwise(0L))
        .as("n_zero"),
      min("norm_milli").as("min_norm_milli"),
      at(0.25).as("p25_norm_milli"),
      at(0.5).as("p50_norm_milli"),
      at(0.75).as("p75_norm_milli"),
      max("norm_milli").as("max_norm_milli"))
      .orderBy("label")
  }

  /** Shares the qv/nr quantization CTEs with [[annTopKOracle]] and the
   *  cum/pick builders with every histogram-rank oracle. */
  lazy val embNormQuantilesOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
t AS (
  SELECT CAST(e.label AS BIGINT) AS label,
         CAST(FLOOR(sqrt(n.nq)) AS BIGINT) AS norm_milli
  FROM nr n JOIN embeddings e ON n.vec_id = e.vec_id),
hist AS (
  SELECT label, norm_milli, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM t GROUP BY label, norm_milli),
""" + HistogramRank.cumCteSql("hist", Seq("label"), "norm_milli") + s"""
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN norm_milli = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_zero,
       MIN(norm_milli) AS min_norm_milli,
       ${HistogramRank.pickSql("norm_milli", 0.25, "p25_norm_milli")},
       ${HistogramRank.pickSql("norm_milli", 0.5, "p50_norm_milli")},
       ${HistogramRank.pickSql("norm_milli", 0.75, "p75_norm_milli")},
       MAX(norm_milli) AS max_norm_milli
FROM cum
GROUP BY label
ORDER BY label"""

  /** SEMANTIC drift over ingestion order — the embedding-space
   *  analogue of `quality_drift` (and the within-corpus counterpart
   *  of [[sourceCentroidDrift]]'s per-source readout): per ingestion
   *  decile (id order, `Dedup.dedupCurve`'s bucket rule), the
   *  total-variation distance between the decile's IVF-cell
   *  occupancy distribution and the corpus baseline — the
   *  distribution-shift monitor that catches a crawl whose TOPIC mix
   *  moved mid-ingest (a seed-list change, a domain collapse) even
   *  when per-doc quality metrics stay flat. Cell shares in integer
   *  ppm (exact under any aggregation order, the `event_mix_drift`
   *  discipline); TVD = L1/2 surfaces as r4.
   *
   *  Shape: ONE broadcast-codebook assignment pass over the
   *  quantized frame (the family's standard K-bounded scan),
   *  collapse to the (decile, cell) aggregate, then the baseline
   *  join and L1 run on the bounded |deciles|×|cells| grid only. */
  def semanticDrift(emb: DataFrame, numCentroids: Int = 32,
                    buckets: Int = 10): DataFrame = {
    val qv = quantized(emb).cache()
    val assigned = nearestCentroids(qv,
      hashCentroids(qv, resolveCentroids(qv, numCentroids)), 1)
    val maxId = emb.agg(max("vec_id").as("max_id"))
    val bkt = assigned.crossJoin(broadcast(maxId))
      .select(col("vec_id"), col("cent_id"),
        expr(s"vec_id * $buckets div (max_id + 1)").as("bucket"))
    val dc = bkt.groupBy("bucket", "cent_id").agg(count(lit(1)).as("cnt"))
    val dt = dc.groupBy("bucket").agg(sum("cnt").as("n_vectors"))
    val base = bkt.groupBy("cent_id").agg(count(lit(1)).as("bcnt"))
    val nTot = bkt.agg(count(lit(1)).as("n_total"))
    val out = dt.crossJoin(broadcast(base)).crossJoin(broadcast(nTot))
      .join(dc, Seq("bucket", "cent_id"), "left")
      .select(col("bucket"), col("n_vectors"),
        expr("coalesce(cnt, 0) * 1000000 div n_vectors").as("dec_ppm"),
        expr("bcnt * 1000000 div n_total").as("base_ppm"))
      .groupBy("bucket", "n_vectors")
      .agg(sum(abs(col("dec_ppm") - col("base_ppm"))).as("l1_ppm"))
      .select(col("bucket"), col("n_vectors"), col("l1_ppm"),
        r4(col("l1_ppm") / lit(2000000.0)).as("tvd"))
      .orderBy("bucket")
      .localCheckpoint() // |buckets| rows; pin before the unpersist
    qv.unpersist()
    out
  }

  /** Rides [[ivfAssignCte]] (the one cell-assignment SQL spelling)
   *  with `dedupCurve`'s bucket rule and `event_mix_drift`'s ppm/TVD
   *  tail. */
  val semanticDriftOracle: String = "WITH " + ivfAssignCte + """,
m AS (SELECT CAST(MAX(vec_id) AS BIGINT) AS max_id FROM embeddings),
bkt AS (
  SELECT a.vec_id, a.cent_id,
         CAST(a.vec_id * 10 // (m.max_id + 1) AS BIGINT) AS bucket
  FROM assigned a CROSS JOIN m),
dc AS (SELECT bucket, cent_id, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM bkt GROUP BY bucket, cent_id),
dt AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_vectors
       FROM dc GROUP BY bucket),
base AS (SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS bcnt
         FROM bkt GROUP BY cent_id),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM bkt),
j AS (
  SELECT g.bucket, g.n_vectors,
         CAST(COALESCE(d.cnt, 0) * 1000000 // g.n_vectors AS BIGINT) AS dec_ppm,
         CAST(g.bcnt * 1000000 // (SELECT n_total FROM n) AS BIGINT) AS base_ppm
  FROM (SELECT dt.bucket, dt.n_vectors, b.cent_id, b.bcnt
        FROM dt CROSS JOIN base b) g
  LEFT JOIN dc d ON d.bucket = g.bucket AND d.cent_id = g.cent_id)
SELECT bucket, n_vectors,
       CAST(SUM(ABS(dec_ppm - base_ppm)) AS BIGINT) AS l1_ppm,
       FLOOR((SUM(ABS(dec_ppm - base_ppm)) / 2000000.0) * 10000.0 + 0.5) / 10000.0 AS tvd
FROM j
GROUP BY bucket, n_vectors
ORDER BY bucket"""

  /** Cross-modal consistency check: every verified lexical near-dup
   *  pair ([[Dedup.dedupNgram]]'s output, verbatim) next to the
   *  embedding cosine of the same two documents, plus the gap — the
   *  "do the embeddings agree with the shingles?" table. A wide gap
   *  row is either a paraphrase the lexical pass got lucky on or an
   *  embedding-model blind spot; either way it's the first place to
   *  look before trusting embedding-only dedup at 100 TB. Pairs keep
   *  only docs that HAVE an embedding (inner join — the check is
   *  defined exactly where both modalities exist). Scale shape: the
   *  pair frame is near-dup-sized (tiny vs corpus), so the two
   *  quantized-vector joins are hash joins on vec_id; no new corpus
   *  pass beyond what dedupNgram already pays. Scores are the two
   *  operators' own rounded values; the gap is one ABS over them,
   *  mirrored exactly in SQL. */
  def lexicalVsEmbedding(docs: DataFrame, emb: DataFrame): DataFrame = {
    val pairs = Dedup.dedupNgram(docs)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
        col("jaccard"))
    val qv = quantized(emb)
    verifyCosine(pairs, qv, qv, "vec_a", "vec_b", minCosine = -2.0)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        col("jaccard"), r4(col("cosine")).as("cosine"))
      .withColumn("gap", r4(abs(col("jaccard") - col("cosine"))))
      .orderBy("doc_a", "doc_b")
  }

  /** Shares [[Dedup.ngramVerifiedCte]] (the lexical side) and the
   *  quantized qv/nr chain (the embedding side) — neither can drift
   *  from its parent oracle. */
  val lexicalVsEmbeddingOracle: String =
    "WITH " + Dedup.shinglesCte + "," + Dedup.ngramVerifiedCte + """,
dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
pdots AS (
  SELECT v.doc_a, v.doc_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM verified v
  JOIN qv qa ON qa.vec_id = v.doc_a
  JOIN qv qb ON qb.vec_id = v.doc_b AND qb.i = qa.i
  GROUP BY v.doc_a, v.doc_b),
scored AS (
  SELECT p.doc_a, p.doc_b,
         FLOOR((v.inter_n * 1.0 / (v.n_a + v.n_b - v.inter_n)) * 10000.0 + 0.5) / 10000.0 AS jaccard,
         FLOOR((p.dot / (sqrt(na.nq) * sqrt(nb.nq))) * 10000.0 + 0.5) / 10000.0 AS cosine
  FROM pdots p
  JOIN verified v ON p.doc_a = v.doc_a AND p.doc_b = v.doc_b
  JOIN nr na ON p.doc_a = na.vec_id
  JOIN nr nb ON p.doc_b = nb.vec_id)
SELECT doc_a, doc_b, jaccard, cosine,
       FLOOR(ABS(jaccard - cosine) * 10000.0 + 0.5) / 10000.0 AS gap
FROM scored
ORDER BY doc_a, doc_b"""

  /** Topic clustering over embeddings: one Lloyd round from the
   *  deterministic hash-seed codebook, then a per-cluster summary —
   *  population, mean label, and the cosine range to the centroid
   *  (min/max are order-independent selections, unlike a float mean).
   *  This is the "what modes does the corpus have, and how tight are
   *  they" frame a curation pass stratifies on.
   *
   *  Determinism contract (what makes the DuckDB mirror bit-exact):
   *  centroid update is `FLOOR(sum/cnt + 0.5)` over exact integer
   *  per-dim sums — NOT `round()`, whose half-away-from-zero behavior
   *  on negative means differs from this formula and needn't agree
   *  across engines — and every cosine is one div of exact integers
   *  through IEEE-specified sqrt/mul. Empty clusters keep their seed
   *  vector (left join + coalesce), mirroring [[trainCentroids]].
   *
   *  Scale shape: two broadcast-K assignment passes over the corpus +
   *  one 64-column integer-mean partial agg — no corpus self-join, no
   *  window wider than K rows. More Lloyd rounds at 100 TB = repeat
   *  the same two passes; run them on a hash-sampled slice and assign
   *  the full corpus once with the final codebook. */
  def topicClusters(emb: DataFrame, k: Int = 32): DataFrame = {
    val qv = quantized(emb).cache()
    // the codebook IS trainCentroids(iters = 1) — one implementation
    // of the Lloyd round, shared with the ann_ivf_trained path
    val cents1 = trainCentroids(emb, numCentroids = k, iters = 1)
    qv.select(col("vec_id"), col("qarr").as("qarr_b"), col("nq").as("nq_b"))
      .crossJoin(broadcast(cents1))
      .withColumn("cosine",
        expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .withColumn("rk", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cosine").desc, col("cent_id"))))
      .filter(col("rk") === 1)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy("cent_id").agg(
        count(lit(1)).as("n_members"),
        sum(col("label").cast("long")).as("label_sum"),
        min("cosine").as("min_cos"),
        max("cosine").as("max_cos"))
      .select(col("cent_id"), col("n_members"),
        r4(col("label_sum") * lit(1.0) / col("n_members")).as("avg_label"),
        r4(col("min_cos")).as("min_cosine"),
        r4(col("max_cos")).as("max_cosine"))
      .orderBy("cent_id")
  }

  /** One Lloyd round in SQL on top of [[ivfAssignCte]]'s round-0
   *  assignment: the updated codebook (`cents2`), its cosines over the
   *  corpus (`cos2`), and the round-1 assignment (`a2`). Shared by
   *  [[topicClustersOracle]] and [[annIvfTrainedOracle]] — one SQL
   *  spelling of the Lloyd round, exactly as [[trainCentroids]] is the
   *  one Scala spelling. */
  private val lloydRoundCte: String = """mcnt AS (SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM assigned GROUP BY cent_id),
msum AS (
  SELECT a.cent_id, v.i, CAST(SUM(v.q) AS BIGINT) AS sq
  FROM assigned a JOIN qv v ON v.vec_id = a.vec_id
  GROUP BY a.cent_id, v.i),
newc AS (
  SELECT m.cent_id, m.i,
         CAST(FLOOR(m.sq * 1.0 / c.cnt + 0.5) AS BIGINT) AS q
  FROM msum m JOIN mcnt c ON m.cent_id = c.cent_id),
cents2 AS (
  SELECT c.cent_id, d.i, COALESCE(n.q, sv.q) AS q
  FROM cents c CROSS JOIN dims d
  LEFT JOIN newc n ON n.cent_id = c.cent_id AND n.i = d.i
  LEFT JOIN qv sv ON sv.vec_id = c.cent_id AND sv.i = d.i),
nc2 AS (SELECT cent_id, CAST(SUM(q * q) AS BIGINT) AS nq
        FROM cents2 GROUP BY cent_id),
dots2 AS (
  SELECT v.vec_id, c2.cent_id, CAST(SUM(v.q * c2.q) AS BIGINT) AS dot
  FROM qv v JOIN cents2 c2 ON c2.i = v.i
  GROUP BY v.vec_id, c2.cent_id),
cos2 AS (
  SELECT d.vec_id, d.cent_id, d.dot / (sqrt(nv.nq) * sqrt(n2.nq)) AS cosine
  FROM dots2 d
  JOIN nr nv ON d.vec_id = nv.vec_id
  JOIN nc2 n2 ON d.cent_id = n2.cent_id),
a2 AS (
  SELECT vec_id, cent_id, cosine FROM (
    SELECT vec_id, cent_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cent_id) AS rk
    FROM cos2) t WHERE rk = 1)"""

  val topicClustersOracle: String =
    "WITH " + ivfAssignCte + "," + lloydRoundCte + """
SELECT a.cent_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       FLOOR((SUM(e.label) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS avg_label,
       FLOOR(MIN(a.cosine) * 10000.0 + 0.5) / 10000.0 AS min_cosine,
       FLOOR(MAX(a.cosine) * 10000.0 + 0.5) / 10000.0 AS max_cosine
FROM a2 a JOIN embeddings e ON e.vec_id = a.vec_id
GROUP BY a.cent_id
ORDER BY a.cent_id"""

  /** `ann_ivf` probing under the ONE-ROUND-TRAINED codebook — the
   *  previously spec-only [[trainCentroids]] path, now hash-verified:
   *  the oracle reruns the identical Lloyd round ([[lloydRoundCte]])
   *  and probes `cents2`, so the trained codebook, its assignments,
   *  and the final ranked neighbors are all checked bit-for-bit. */
  val annIvfTrainedOracle: String =
    "WITH " + ivfAssignCte + "," + lloydRoundCte + """,
probes2 AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT vec_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cent_id) AS rk
    FROM cos2 WHERE vec_id % 100 = 0 AND vec_id < 2000) t WHERE rk <= 2),
cands2 AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes2 p JOIN a2 a ON p.cent_id = a.cent_id
  WHERE p.query_id <> a.vec_id),
cdots2 AS (
  SELECT c.query_id, c.vec_id, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM cands2 c
  JOIN qv qa ON qa.vec_id = c.query_id
  JOIN qv qb ON qb.vec_id = c.vec_id AND qb.i = qa.i
  GROUP BY c.query_id, c.vec_id),
ranked2 AS (
  SELECT d.query_id, d.vec_id,
         d.dot / (sqrt(na.nq) * sqrt(nb.nq)) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.query_id
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_id) AS rk
  FROM cdots2 d
  JOIN nr na ON d.query_id = na.vec_id
  JOIN nr nb ON d.vec_id = nb.vec_id)
SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id,
       FLOOR((cosine) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM ranked2 WHERE rk <= 10
ORDER BY query_id, rank"""

  /** Product-quantization ANN (the FAISS `IndexPQ` shape — Jégou et
   *  al., "Product Quantization for Nearest Neighbor Search", PAMI
   *  2011): the 64-dim vector is split into 8 subspaces of 8 dims;
   *  each subvector is replaced by the id of its nearest codebook
   *  entry, so a vector compresses to 8 small codes (+ its stored
   *  norm) — at 100 TB the ADC scan reads ~16 bytes/vector instead of
   *  256, a ~16x memory-bandwidth win, and the codes frame is the
   *  persistable index. Queries never decompress the corpus:
   *  asymmetric distance computation (ADC) precomputes, per query, the
   *  exact integer dot of the query subvector with every codebook
   *  entry (an 8x16 lookup table), and a candidate's approximate dot
   *  is 8 in-row table lookups.
   *
   *  Everything stays cross-engine exact: codebook = the same
   *  hash-ordered deterministic sample [[annIvf]] uses (dense code
   *  index = rank by vec_id over the 16-row sample); encode picks
   *  argmin of the exact integer squared L2 per subspace
   *  (order-independent `min(struct(d2, cidx))`, ties -> lowest
   *  index); ADC dots are integer sums. The only doubles are the two
   *  final cosine projections. Output carries BOTH the PQ-approximated
   *  cosine and the exact cosine of each returned candidate (a
   *  k-bounded verify join), so the quantization error is visible in
   *  the result itself.
   *
   *  Plan shape: encode = one explode(8) + broadcast(128-row codebook)
   *  join + map-side-combining min-agg; scoring = corpus-codes x
   *  broadcast(query LUT array) with the per-pair sum as one in-row
   *  8-step lookup fold — no exchange carries more than (corpus x
   *  queries) narrow rows, and composing with [[annIvf]]'s `assigned`
   *  relation (join codes on the probed lists first) is the IVF-PQ
   *  scale path. */
  /** The per-subspace codebook: dense 0-based code index (rank by
   *  vec_id over the hash-ordered `numCodes`-row sample; the window
   *  runs over those rows only), exploded into per-subspace entries —
   *  (m, cidx, sub_c) x (numCodes * Dims/subDims) rows, broadcast by
   *  every consumer. */
  private def pqCodebook(qv: DataFrame, numCodes: Int, subDims: Int): DataFrame = {
    val nSub = Dims / subDims
    hashCentroids(qv, numCodes)
      .withColumn("cidx",
        (row_number().over(Window.orderBy("cent_id")) - 1).cast("long"))
      .select(col("cidx"), explode(array((0 until nSub).map { mm =>
          struct(lit(mm.toLong).as("m"),
            slice(col("qarr_a"), mm * subDims + 1, subDims).as("sub_c"))
        }: _*)).as("e"))
      .select(col("cidx"), col("e.m").as("m"), col("e.sub_c").as("sub_c"))
  }

  private def pqSubvectors(frame: DataFrame, idCol: String,
                           subDims: Int): DataFrame = {
    val nSub = Dims / subDims
    // Lambda-free sub-vector explode (the nibblesFromFp discipline):
    // the transform(sequence(...)) HOF ran interpreted per vector row.
    frame.select(col("vec_id").as(idCol), explode(array((0 until nSub).map { mm =>
        struct(lit(mm.toLong).as("m"),
          slice(col("qarr"), mm * subDims + 1, subDims).as("sub_v"))
      }: _*)).as("e"))
      .select(col(idCol), col("e.m").as("m"), col("e.sub_v").as("sub_v"))
  }

  /** ENCODE + pack: nearest code per (vector, subspace) by exact
   *  integer L2 (`min(struct)` is aggregation-order independent, ties
   *  -> lowest cidx), packed in-row to the compressed index record —
   *  8 codes + the stored exact norm (array_sort over unique m keys
   *  -> deterministic layout). This frame IS the persistable PQ
   *  index: ~16 B/vector against 256 B of raw floats. */
  private def pqPacked(qv: DataFrame, cb: DataFrame, subDims: Int): DataFrame =
    pqSubvectors(qv, "vec_id", subDims).join(broadcast(cb), "m")
      .withColumn("d2",
        call_function("qdot", col("sub_v"), col("sub_v"))
          - lit(2L) * call_function("qdot", col("sub_v"), col("sub_c"))
          + call_function("qdot", col("sub_c"), col("sub_c")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cidx"))).as("best"))
      .groupBy("vec_id")
      // arr.cidx (GetArrayStructFields) replaces the interpreted
      // transform(..., s -> s.cidx) field pluck — codegen'd, same array
      .agg(expr("sort_array(collect_list(named_struct(" +
        "'m', m, 'cidx', best.cidx))).cidx").as("codes"))
      .join(qv.select(col("vec_id"), col("nq")), "vec_id")

  /** Per-query ADC lookup table, flattened to one array ordered by
   *  (m, cidx) so position m*numCodes+cidx is the in-row lookup key;
   *  carries the query's exact norm for the cosine projection. */
  private def pqLut(qq: DataFrame, cb: DataFrame, subDims: Int): DataFrame =
    pqSubvectors(qq, "query_id", subDims).join(broadcast(cb), "m")
      .withColumn("ldot", call_function("qdot", col("sub_v"), col("sub_c")))
      .groupBy("query_id")
      .agg(expr("sort_array(collect_list(named_struct(" +
        "'m', m, 'cidx', cidx, 'ldot', ldot))).ldot").as("lut"))
      .join(qq.select(col("vec_id").as("query_id"), col("nq").as("nq_q")),
        "query_id")

  /** ADC-score (query, candidate) rows carrying (codes, nq, lut,
   *  nq_q): the approximate dot is one in-row lookup fold over the
   *  broadcast LUT array; rank per query, keep top k, then verify the
   *  k-bounded winners with the exact cosine. */
  private def pqScore(pairs: DataFrame, qq: DataFrame, qv: DataFrame,
                      numCodes: Int, subDims: Int, k: Int): DataFrame = {
    val nSub = Dims / subDims
    val adcTop = pairs
      .filter(col("query_id") =!= col("vec_id"))
      // lambda-free unrolled lookup fold: nSub is a literal, so the
      // 8-step in-row ADC sum is 8 codegen'd GetArrayItems — the
      // aggregate(sequence(...)) HOF it replaces ran interpreted per
      // (query x candidate) row, the PQ family's hottest expression
      .withColumn("adc_dot", (0 until nSub).map { mm =>
        col("lut")((lit(mm.toLong * numCodes) + col("codes")(mm)).cast("int"))
      }.reduce(_ + _))
      .withColumn("pq_cosine",
        col("adc_dot") / (sqrt(col("nq_q")) * sqrt(col("nq"))))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("pq_cosine").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("pq_cosine"))
    // exact cosine of the returned candidates only (k-bounded join) —
    // the quantization-error readout next to the approximate score
    adcTop
      .join(qq.select(col("vec_id").as("query_id"),
        col("qarr").as("qarr_a"), col("nq").as("nq_a")), "query_id")
      .join(qv.select(col("vec_id"),
        col("qarr").as("qarr_b"), col("nq").as("nq_b")), "vec_id")
      .withColumn("cosine",
        expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .select(col("query_id"), col("rk").cast("long").as("rank"),
        col("vec_id"), r4(col("pq_cosine")).as("pq_cosine"),
        r4(col("cosine")).as("cosine"))
      .orderBy("query_id", "rank")
  }

  def annPq(emb: DataFrame, queries: DataFrame,
            k: Int = 10, numCodes: Int = 16, subDims: Int = 8,
            precomputedQuantized: Option[DataFrame] = None): DataFrame = {
    require(Dims % subDims == 0, "subDims must divide Dims")
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val cb = pqCodebook(qv, numCodes, subDims)
    val packed = pqPacked(qv, cb, subDims)
    val qq = quantized(queries)
    val lut = pqLut(qq, cb, subDims)
    pqScore(packed.crossJoin(broadcast(lut)), qq, qv, numCodes, subDims, k)
  }

  /** Two-stage RETRIEVE-then-RERANK — the serving pattern every
   *  production vector store runs (cheap approximate shortlist, exact
   *  re-scoring of the survivors): the ADC-ranked PQ shortlist of
   *  `shortlist` candidates per query ([[annPq]]'s chain verbatim) is
   *  re-ordered by the exact quantized cosine and cut to `k`. The
   *  `shortlist_rank` column next to the final rank shows the churn
   *  the rerank pays for — `promoted` marks winners the approximate
   *  stage had OUTSIDE its top-k, i.e. answers PQ alone would have
   *  lost, the number that justifies (or kills) the rerank stage's
   *  latency budget. Cost: everything [[annPq]] pays plus one
   *  (queries × shortlist)-bounded window — the exact re-scoring
   *  joins only shortlist rows, never the corpus. Reranking orders on
   *  the r4-quantized cosine (ties → vec_id) so both engines rank the
   *  identical IEEE values. */
  def annRerank(emb: DataFrame, queries: DataFrame,
                k: Int = 10, shortlist: Int = 30,
                numCodes: Int = 16, subDims: Int = 8,
                precomputedQuantized: Option[DataFrame] = None): DataFrame = {
    val short = annPq(emb, queries, shortlist, numCodes, subDims,
      precomputedQuantized)
      .select(col("query_id"), col("rank").as("shortlist_rank"),
        col("vec_id"), col("cosine"))
    short
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rank"),
        col("vec_id"), col("shortlist_rank"), col("cosine"),
        (col("shortlist_rank") > k).cast("long").as("promoted"))
      .orderBy("query_id", "rank")
  }

  /** [[pqRankCte]] (so the shortlist can never drift from `ann_pq`'s
   *  ADC ranking) + exact re-scoring of rk <= 30 + the rerank window
   *  over the r4-quantized cosine. */
  lazy val annRerankOracle: String = "WITH " + pqRankCte + """,
exact AS (
  SELECT r.query_id, r.vec_id, r.rk AS shortlist_rank,
         CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM ranked r
  JOIN qv qa ON qa.vec_id = r.query_id
  JOIN qv qb ON qb.vec_id = r.vec_id AND qb.i = qa.i
  WHERE r.rk <= 30
  GROUP BY r.query_id, r.vec_id, r.rk),
scored AS (
  SELECT e.query_id, e.vec_id, e.shortlist_rank,
         FLOOR((e.dot / (sqrt(na.nq) * sqrt(nb.nq))) * 10000.0 + 0.5) / 10000.0 AS cosine
  FROM exact e
  JOIN nr na ON e.query_id = na.vec_id
  JOIN nr nb ON e.vec_id = nb.vec_id),
rr AS (
  SELECT query_id, vec_id, shortlist_rank, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, vec_id) AS rk
  FROM scored)
SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id,
       CAST(shortlist_rank AS BIGINT) AS shortlist_rank, cosine,
       CASE WHEN shortlist_rank > 10 THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS promoted
FROM rr WHERE rk <= 10
ORDER BY query_id, rank"""

  /** PQ quantization-distortion accounting — the index-quality
   *  readout a PQ deployment watches BEFORE trusting [[annPq]]'s
   *  approximate scores: per subspace, the vector count, the total
   *  and mean squared L2 between each subvector and its assigned
   *  code, how many of the `numCodes` codes the encoder actually
   *  used, and the hottest code's load (codebook imbalance — a
   *  subspace where one code swallows most vectors contributes near-
   *  zero discriminative signal to the ADC sum, the first thing to
   *  check when PQ recall sags). Everything integer-exact: `d2` is
   *  the same qdot-based integer squared L2 [[annPq]]'s encoder
   *  argmins over, so total/mean distortion are aggregation-order
   *  independent and the mean is the one rounded division per row.
   *  Plan shape: encode = explode(8) + broadcast codebook join +
   *  map-side-combining min-agg (identical to [[annPq]]'s); the
   *  rollups group at (8 x numCodes) then 8-row cardinality. */
  def pqDistortion(emb: DataFrame, numCodes: Int = 16, subDims: Int = 8,
                   precomputedQuantized: Option[DataFrame] = None): DataFrame = {
    require(Dims % subDims == 0, "subDims must divide Dims")
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val cb = pqCodebook(qv, numCodes, subDims)
    val best = pqSubvectors(qv, "vec_id", subDims).join(broadcast(cb), "m")
      .withColumn("d2",
        call_function("qdot", col("sub_v"), col("sub_v"))
          - lit(2L) * call_function("qdot", col("sub_v"), col("sub_c"))
          + call_function("qdot", col("sub_c"), col("sub_c")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cidx"))).as("best"))
      .select(col("m"), col("best.d2").as("d2"), col("best.cidx").as("cidx"))
    val perM = best.groupBy("m").agg(
      count(lit(1)).as("n_vecs"), sum("d2").as("total_d2"))
    val loadM = best.groupBy("m", "cidx")
      .agg(count(lit(1)).as("n_load"))
      .groupBy("m").agg(
        count(lit(1)).as("codes_used"), max("n_load").as("max_code_load"))
    perM.join(loadM, "m")
      .select(col("m"), col("n_vecs"), col("total_d2"),
        r4(col("total_d2") * lit(1.0) / col("n_vecs")).as("mean_d2"),
        col("codes_used"), col("max_code_load"))
      .orderBy("m")
  }

  /** Mirrors [[annPqOracle]]'s encode chain (dims..codes) exactly —
   *  both are hash-checked against the same Spark-side codebook, so
   *  a drift in either surfaces as a correctness failure. */
  val pqDistortionOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
cents AS (SELECT vec_id AS code_vec FROM nr
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cidx AS (SELECT code_vec, CAST(ROW_NUMBER() OVER (ORDER BY code_vec) - 1 AS BIGINT) AS cidx
         FROM cents),
cb AS (SELECT x.cidx, CAST((q.i - 1) // 8 AS BIGINT) AS m, q.i, q.q
       FROM cidx x JOIN qv q ON q.vec_id = x.code_vec),
vsub AS (SELECT vec_id, CAST((i - 1) // 8 AS BIGINT) AS m, i, q FROM qv),
dist AS (
  SELECT v.vec_id, v.m, c.cidx,
         CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS d2
  FROM vsub v JOIN cb c ON c.m = v.m AND c.i = v.i
  GROUP BY v.vec_id, v.m, c.cidx),
best AS (
  SELECT vec_id, m, cidx, d2 FROM (
    SELECT vec_id, m, cidx, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cidx) AS rk
    FROM dist) t WHERE rk = 1),
perm AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(d2) AS BIGINT) AS total_d2
  FROM best GROUP BY m),
permload AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS codes_used, CAST(MAX(n_load) AS BIGINT) AS max_code_load
  FROM (SELECT m, cidx, CAST(COUNT(*) AS BIGINT) AS n_load FROM best GROUP BY m, cidx) t
  GROUP BY m)
SELECT p.m, p.n_vecs, p.total_d2,
       FLOOR((p.total_d2 * 1.0 / p.n_vecs) * 10000.0 + 0.5) / 10000.0 AS mean_d2,
       l.codes_used, l.max_code_load
FROM perm p JOIN permload l ON p.m = l.m
ORDER BY p.m"""

  /** IVF-PQ (the FAISS `IndexIVFPQ` architecture — the shape that
   *  actually serves billion-vector corpora): [[annIvf]]'s coarse
   *  quantizer assigns every vector to an inverted list and each
   *  query probes only its `nprobe` nearest lists, while [[annPq]]'s
   *  product code compresses what the probe scans — so a query
   *  touches ~|corpus| * nprobe / numCentroids CANDIDATES and reads
   *  ~16 B per candidate, multiplying the two reductions. The probed
   *  candidate set is ADC-scored (broadcast LUT, in-row lookup fold)
   *  and the k winners verified with the exact cosine, same as
   *  [[annPq]]. At 100 TB: `assigned`-co-partitioned code lists +
   *  a broadcast probe frame — no corpus-wide exchange anywhere. */
  def annIvfPq(emb: DataFrame, queries: DataFrame,
               k: Int = 10, nprobe: Int = 2, numCentroids: Int = 32,
               numCodes: Int = 16, subDims: Int = 8,
               precomputedQuantized: Option[DataFrame] = None): DataFrame = {
    require(Dims % subDims == 0, "subDims must divide Dims")
    val qv = precomputedQuantized.getOrElse(quantized(emb)).cache()
    val centroids = hashCentroids(qv, numCentroids)
    val assigned = nearestCentroids(qv, centroids, 1)
    val qq = quantized(queries)
    val probes = nearestCentroids(qq, centroids, nprobe)
      .withColumnRenamed("vec_id", "query_id")
    val cands = probes.join(assigned, "cent_id")
      .select("query_id", "vec_id").distinct()
    val cb = pqCodebook(qv, numCodes, subDims)
    val pairs = cands
      .join(pqPacked(qv, cb, subDims), "vec_id")
      .join(broadcast(pqLut(qq, cb, subDims)), "query_id")
    pqScore(pairs, qq, qv, numCodes, subDims, k)
  }

  /** The PQ chain through the ADC ranking — shared by [[annPqOracle]]
   *  and [[pqRecallOracle]] so the two can never drift. */
  private lazy val pqRankCte: String = """dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
cents AS (SELECT vec_id AS code_vec FROM nr
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cidx AS (SELECT code_vec, CAST(ROW_NUMBER() OVER (ORDER BY code_vec) - 1 AS BIGINT) AS cidx
         FROM cents),
cb AS (SELECT x.cidx, CAST((q.i - 1) // 8 AS BIGINT) AS m, q.i, q.q
       FROM cidx x JOIN qv q ON q.vec_id = x.code_vec),
vsub AS (SELECT vec_id, CAST((i - 1) // 8 AS BIGINT) AS m, i, q FROM qv),
dist AS (
  SELECT v.vec_id, v.m, c.cidx,
         CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS d2
  FROM vsub v JOIN cb c ON c.m = v.m AND c.i = v.i
  GROUP BY v.vec_id, v.m, c.cidx),
codes AS (
  SELECT vec_id, m, cidx FROM (
    SELECT vec_id, m, cidx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cidx) AS rk
    FROM dist) t WHERE rk = 1),
lut AS (
  SELECT v.vec_id AS query_id, c.m, c.cidx, CAST(SUM(v.q * c.q) AS BIGINT) AS ldot
  FROM vsub v JOIN cb c ON c.m = v.m AND c.i = v.i
  WHERE v.vec_id % 100 = 0 AND v.vec_id < 2000
  GROUP BY v.vec_id, c.m, c.cidx),
adc AS (
  SELECT l.query_id, c.vec_id, CAST(SUM(l.ldot) AS BIGINT) AS adc_dot
  FROM codes c JOIN lut l ON l.m = c.m AND l.cidx = c.cidx
  WHERE l.query_id <> c.vec_id
  GROUP BY l.query_id, c.vec_id),
ranked AS (
  SELECT a.query_id, a.vec_id,
         a.adc_dot / (sqrt(nq.nq) * sqrt(nv.nq)) AS pq_cosine,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
           ORDER BY a.adc_dot / (sqrt(nq.nq) * sqrt(nv.nq)) DESC, a.vec_id) AS rk
  FROM adc a
  JOIN nr nq ON a.query_id = nq.vec_id
  JOIN nr nv ON a.vec_id = nv.vec_id)"""

  val annPqOracle: String = "WITH " + pqRankCte + """,
exact AS (
  SELECT r.query_id, r.vec_id, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM ranked r
  JOIN qv qa ON qa.vec_id = r.query_id
  JOIN qv qb ON qb.vec_id = r.vec_id AND qb.i = qa.i
  WHERE r.rk <= 10
  GROUP BY r.query_id, r.vec_id)
SELECT r.query_id, CAST(r.rk AS BIGINT) AS rank, r.vec_id,
       FLOOR((r.pq_cosine) * 10000.0 + 0.5) / 10000.0 AS pq_cosine,
       FLOOR((e.dot / (sqrt(na.nq) * sqrt(nb.nq))) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM ranked r
JOIN exact e ON e.query_id = r.query_id AND e.vec_id = r.vec_id
JOIN nr na ON r.query_id = na.vec_id
JOIN nr nb ON r.vec_id = nb.vec_id
WHERE r.rk <= 10
ORDER BY r.query_id, rank"""

  /** PQ-path recall evaluation — completes the "measure, don't guess"
   *  family across all three ANN serving paths: [[annRecall]] covers
   *  the LSH path, [[ivfProbeSweep]] the IVF path, this the PQ path.
   *  Per query: how much of the exact cosine top-k ([[annTopK]]) the
   *  ADC-ranked [[annPq]] top-k recovers — the codebook-quality
   *  readout to watch next to [[pqDistortion]] before trusting PQ
   *  scores at scale (distortion says how lossy the codes are; recall
   *  says whether that loss actually reorders the answers). Bounded
   *  query sample by the same brute-force-truth contract as the other
   *  two; integer hit counts, one final division. */
  def pqRecall(emb: DataFrame, queries: DataFrame, k: Int = 10,
               numCodes: Int = 16, subDims: Int = 8): DataFrame = {
    val hits = annPq(emb, queries, k, numCodes, subDims)
      .select("query_id", "vec_id")
    val truth = annTopK(emb, queries, k).select("query_id", "vec_id")
    truth
      .join(hits.withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
      .groupBy("query_id").agg(
        sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("truth_n"))
      .select(col("query_id"), col("hits"), col("truth_n"),
        r4(col("hits") * lit(1.0) / col("truth_n")).as("recall_at_k"))
      .orderBy("query_id")
  }

  /** Shares [[pqRankCte]] (the whole PQ chain, so the scored path can
   *  never drift from `ann_pq`'s) and the brute-force truth CTE the
   *  other recall oracles use. */
  lazy val pqRecallOracle: String = "WITH " + pqRankCte + """,
hits AS (SELECT query_id, vec_id FROM ranked WHERE rk <= 10),
tdots AS (
  SELECT qs.vec_id AS query_id, v.vec_id, CAST(SUM(qs.q * v.q) AS BIGINT) AS dot
  FROM qv qs JOIN qv v ON qs.i = v.i
  WHERE qs.vec_id % 100 = 0 AND qs.vec_id < 2000 AND qs.vec_id <> v.vec_id
  GROUP BY qs.vec_id, v.vec_id),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT d.query_id, d.vec_id,
           ROW_NUMBER() OVER (PARTITION BY d.query_id
             ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_id) AS rk
    FROM tdots d
    JOIN nr na ON d.query_id = na.vec_id
    JOIN nr nb ON d.vec_id = nb.vec_id)
  WHERE rk <= 10)
SELECT t.query_id,
       CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS truth_n,
       FLOOR((SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
              / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS recall_at_k
FROM truth t LEFT JOIN hits h
  ON t.query_id = h.query_id AND t.vec_id = h.vec_id
GROUP BY t.query_id
ORDER BY t.query_id"""

  /** [[annIvfPq]]'s mirror: the shared IVF assignment chain restricts
   *  the ADC join to probed-list candidates; the PQ chain is the
   *  [[annPqOracle]] CTEs renamed to avoid colliding with the IVF
   *  `cents`. */
  val annIvfPqOracle: String = "WITH " + ivfAssignCte + """,
pqcents AS (SELECT vec_id AS code_vec FROM nr
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
pqcidx AS (SELECT code_vec, CAST(ROW_NUMBER() OVER (ORDER BY code_vec) - 1 AS BIGINT) AS cidx
           FROM pqcents),
cb AS (SELECT x.cidx, CAST((q.i - 1) // 8 AS BIGINT) AS m, q.i, q.q
       FROM pqcidx x JOIN qv q ON q.vec_id = x.code_vec),
vsub AS (SELECT vec_id, CAST((i - 1) // 8 AS BIGINT) AS m, i, q FROM qv),
pqdist AS (
  SELECT v.vec_id, v.m, c.cidx,
         CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS d2
  FROM vsub v JOIN cb c ON c.m = v.m AND c.i = v.i
  GROUP BY v.vec_id, v.m, c.cidx),
codes AS (
  SELECT vec_id, m, cidx FROM (
    SELECT vec_id, m, cidx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cidx) AS rk
    FROM pqdist) t WHERE rk = 1),
lut AS (
  SELECT v.vec_id AS query_id, c.m, c.cidx, CAST(SUM(v.q * c.q) AS BIGINT) AS ldot
  FROM vsub v JOIN cb c ON c.m = v.m AND c.i = v.i
  WHERE v.vec_id % 100 = 0 AND v.vec_id < 2000
  GROUP BY v.vec_id, c.m, c.cidx),
probes AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT vec_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cent_id) AS rk
    FROM vc_cos WHERE vec_id % 100 = 0 AND vec_id < 2000) t WHERE rk <= 2),
cands AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
  WHERE p.query_id <> a.vec_id),
adc AS (
  SELECT l.query_id, c.vec_id, CAST(SUM(l.ldot) AS BIGINT) AS adc_dot
  FROM cands cd
  JOIN codes c ON c.vec_id = cd.vec_id
  JOIN lut l ON l.query_id = cd.query_id AND l.m = c.m AND l.cidx = c.cidx
  GROUP BY l.query_id, c.vec_id),
ranked AS (
  SELECT a.query_id, a.vec_id,
         a.adc_dot / (sqrt(nq.nq) * sqrt(nv.nq)) AS pq_cosine,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
           ORDER BY a.adc_dot / (sqrt(nq.nq) * sqrt(nv.nq)) DESC, a.vec_id) AS rk
  FROM adc a
  JOIN nr nq ON a.query_id = nq.vec_id
  JOIN nr nv ON a.vec_id = nv.vec_id),
exact AS (
  SELECT r.query_id, r.vec_id, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM ranked r
  JOIN qv qa ON qa.vec_id = r.query_id
  JOIN qv qb ON qb.vec_id = r.vec_id AND qb.i = qa.i
  WHERE r.rk <= 10
  GROUP BY r.query_id, r.vec_id)
SELECT r.query_id, CAST(r.rk AS BIGINT) AS rank, r.vec_id,
       FLOOR((r.pq_cosine) * 10000.0 + 0.5) / 10000.0 AS pq_cosine,
       FLOOR((e.dot / (sqrt(na.nq) * sqrt(nb.nq))) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM ranked r
JOIN exact e ON e.query_id = r.query_id AND e.vec_id = r.vec_id
JOIN nr na ON r.query_id = na.vec_id
JOIN nr nb ON r.vec_id = nb.vec_id
WHERE r.rk <= 10
ORDER BY r.query_id, rank"""

  /** Semi-supervised LABEL PROPAGATION over the kNN graph — one
   *  majority-vote hop from a seeded label subset (here every
   *  `seedMod`-th vector plays "labeled", the rest are scored
   *  against their held-out gold label): the cheap label-spreading
   *  primitive a curation run uses to extend a small hand-labeled
   *  set (topic, quality tier, license class) across the corpus,
   *  plus the built-in accuracy readout that says whether the
   *  embedding space supports it. Prediction = the label most
   *  common among a vector's labeled kNN neighbors, ties to the
   *  SMALLEST label via the same struct-argmax the survivorship
   *  family uses (map-side partial, no per-vector sort); vectors
   *  with no labeled neighbor stay unpredicted and are reported.
   *  Shape at scale: the k-bounded edge list joins the 1/seedMod
   *  seed frame on neighbor_id (keyed equi-join, ≤ k·N rows), votes
   *  aggregate at (vector, label) cardinality, the readout at label
   *  cardinality — nothing quadratic beyond [[knnGraph]] itself.
   *  `seedMod` is deliberately a corpus FRACTION (unlike the
   *  absolute-count audit strides, [[rpDistortion]]): the labeled
   *  subset of a semi-supervised run scales with the corpus by spec,
   *  and every per-seed cost here is a keyed linear join. A real
   *  deployment replaces the mod-seeding with its actual labeled
   *  set. */
  def knnLabelProp(emb: DataFrame, k: Int = 5, seedMod: Int = 5,
                   numCentroids: Int = AutoCentroids,
                   precomputedQuantized: Option[DataFrame] = None,
                   trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val g = knnGraph(emb, k, numCentroids, precomputedQuantized,
      trainedCentroids)
    val gold = emb.select(col("vec_id"), col("label").cast("long").as("gold"))
    val seeds = gold.filter(col("vec_id") % seedMod === 0)
      .select(col("vec_id").as("neighbor_id"), col("gold").as("nbr_label"))
    val votes = g.filter(col("vec_id") % seedMod =!= 0)
      .select("vec_id", "neighbor_id")
      .join(seeds, "neighbor_id")
      .groupBy("vec_id", "nbr_label").agg(count(lit(1)).as("n_votes"))
    val pred = votes.groupBy("vec_id")
      .agg(max(struct(col("n_votes"), (-col("nbr_label")).as("neg"))).as("best"))
      .select(col("vec_id"), (-col("best.neg")).as("predicted"))
    gold.filter(col("vec_id") % seedMod =!= 0)
      .join(pred, Seq("vec_id"), "left")
      .groupBy(col("gold").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("predicted").isNotNull, 1L).otherwise(0L))
          .as("n_predicted"),
        sum(when(col("predicted") === col("gold"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_eval"), col("n_predicted"),
        col("n_correct"),
        r4(col("n_correct") * lit(1.0) / col("n_eval")).as("accuracy"))
      .orderBy("label")
  }

  /** [[knnGraphOracle]]'s kranked chain + seeded majority vote as a
   *  per-vector ROW_NUMBER over (votes DESC, label ASC) — the SQL
   *  mirror of the struct-argmax tie-break. */
  val knnLabelPropOracle: String = "WITH " + ivfAssignCte + """,
kpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
kpair_dots AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM kpairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b),
kranked AS (
  SELECT d.vec_a, d.vec_b,
         ROW_NUMBER() OVER (PARTITION BY d.vec_a
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_b) AS rk
  FROM kpair_dots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id),
edges AS (SELECT vec_a AS vec_id, vec_b AS neighbor_id
          FROM kranked WHERE rk <= 5),
gold AS (SELECT vec_id, CAST(label AS BIGINT) AS gold FROM embeddings),
seeds AS (SELECT vec_id AS neighbor_id, gold AS nbr_label
          FROM gold WHERE vec_id % 5 = 0),
votes AS (
  SELECT e.vec_id, s.nbr_label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM edges e JOIN seeds s ON e.neighbor_id = s.neighbor_id
  WHERE e.vec_id % 5 <> 0
  GROUP BY e.vec_id, s.nbr_label),
pred AS (
  SELECT vec_id, nbr_label AS predicted FROM (
    SELECT vec_id, nbr_label,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY n_votes DESC, nbr_label) AS rn
    FROM votes) t WHERE rn = 1),
ev AS (
  SELECT g.gold AS label, p.predicted
  FROM gold g LEFT JOIN pred p ON g.vec_id = p.vec_id
  WHERE g.vec_id % 5 <> 0)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN predicted IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_predicted,
       CAST(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       FLOOR((SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             * 10000.0 + 0.5) / 10000.0 AS accuracy
FROM ev GROUP BY label ORDER BY label"""

  /** Per-SOURCE embedding centroid drift: the cosine between each
   *  source's SUM vector and the corpus SUM vector (the sum IS the
   *  unnormalized mean — cosine is scale-invariant, so no division
   *  enters the aggregation). The distribution-shift triage at feed
   *  cardinality: a feed whose centroid swings away from the corpus
   *  is the first place to look when a mixture re-balance moves eval
   *  loss ([[TextAnalysis.sourceDivergence]] is the lexical twin;
   *  this sees drift even when word stats hold steady). All sums are
   *  exact integers over the shared milli-quantized frame
   *  (per-dim |sum| stays < 2^63 up to ~10^15 vectors); the cosine
   *  is ONE final-projection double per source, identical IEEE
   *  expression in the oracle. Shape: one (source, dim)-keyed
   *  partial agg (64 rows per source out), one dim-keyed global agg,
   *  dim-bounded joins — the corpus is scanned once and nothing
   *  wider than 64·|sources| rows ever shuffles. */
  def sourceCentroidDrift(docs: DataFrame, emb: DataFrame): DataFrame = {
    val comps = quantized(emb)
      .select(col("vec_id"), posexplode(col("qarr")).as(Seq("i", "q")))
    val withSrc = comps
      .join(docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    val bySrc = withSrc.groupBy("source", "i").agg(sum("q").as("sq"))
    val global = comps.groupBy("i").agg(sum("q").as("gq"))
    val gn = global.agg(sum(expr("gq * gq")).as("gnn"))
    val nv = withSrc.filter(col("i") === 0)
      .groupBy("source").agg(count(lit(1)).as("n_vecs"))
    bySrc.join(global, "i")
      .groupBy("source").agg(
        sum(expr("sq * gq")).as("dot"),
        sum(expr("sq * sq")).as("nn"))
      .join(nv, "source")
      .crossJoin(gn)
      .select(col("source"), col("n_vecs"),
        r4(col("dot") / (sqrt(col("nn")) * sqrt(col("gnn"))))
          .as("cosine_to_global"))
      .orderBy("source")
  }

  /** Shares the oracle family's milli-quantized `qv` spelling; the
   *  per-source and global SUM vectors join on the dim index. */
  val sourceCentroidDriftOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
j AS (
  SELECT d.source, q.i, q.q
  FROM qv q JOIN documents d ON q.vec_id = d.doc_id),
bysrc AS (
  SELECT source, i, CAST(SUM(q) AS BIGINT) AS sq FROM j GROUP BY source, i),
gsum AS (SELECT i, CAST(SUM(q) AS BIGINT) AS gq FROM qv GROUP BY i),
gn AS (SELECT CAST(SUM(gq * gq) AS BIGINT) AS gnn FROM gsum),
nv AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  GROUP BY d.source),
dots AS (
  SELECT b.source, CAST(SUM(b.sq * g.gq) AS BIGINT) AS dot,
         CAST(SUM(b.sq * b.sq) AS BIGINT) AS nn
  FROM bysrc b JOIN gsum g ON b.i = g.i GROUP BY b.source)
SELECT d.source, nv.n_vecs,
       FLOOR((d.dot / (sqrt(d.nn) * sqrt(gn.gnn))) * 10000.0 + 0.5) / 10000.0 AS cosine_to_global
FROM dots d JOIN nv ON d.source = nv.source CROSS JOIN gn
ORDER BY d.source"""

  /** Johnson-Lindenstrauss RANDOM-PROJECTION audit: project the
   *  64-dim quantized vectors to `projDims`=16 via a deterministic
   *  ±1 sign matrix (sign(i,j) = parity of the md5 of "i_j" — the
   *  oracle-reproducible stand-in for a seeded Rademacher draw,
   *  Achlioptas 2003's database-friendly JL construction), then
   *  measure what the projection does to COSINES on a deterministic
   *  FIXED-SIZE pair sample (every k-th vector against its successor,
   *  k = ceil(N/samplePairs) — an absolute-count stride like
   *  [[graft.pipeline.Dedup.minhashRecallSample]]'s, NOT a corpus
   *  fraction: the audit reads ~samplePairs rows at ANY corpus size,
   *  where a mod-25 fraction would emit N/25 rows at 100 TB):
   *  cosine_full vs cosine_proj and the absolute gap. This is the
   *  "can I afford to store/serve 4× fewer dims" decision table —
   *  measured, not guessed, the same discipline as [[annRecall]] /
   *  [[pqDistortion]] for the other two compression axes (PQ
   *  compresses codes, IVF bounds candidates, JL shrinks the vector
   *  itself). Shape at scale: the sign matrix is 64×16 literal rows
   *  broadcast everywhere; projection is one (vec, j)-keyed partial
   *  agg over the exploded frame (16 rows out per vector); the
   *  sampled pair frame is ~samplePairs rows joined twice —
   *  nothing quadratic, no corpus-wide sort. All dots/norms integer.
   *  The stride is corpus-count-derived and computed IDENTICALLY on
   *  both engines (Scala `(n + samplePairs - 1) / samplePairs` vs the
   *  oracle's `(COUNT(*) + 79) // 80` scalar subquery — the
   *  minhash_recall_sample lockstep discipline, CLAUDE.md). */
  def rpDistortion(emb: DataFrame, projDims: Int = 16,
                   samplePairs: Long = 80L): DataFrame = {
    val spark = emb.sparkSession
    val qv = quantized(emb).cache()
    // 1-based dim index matches the oracle's range(1,65) spelling
    val comps = qv.select(col("vec_id"),
        posexplode(col("qarr")).as(Seq("i0", "q")))
      .select(col("vec_id"), (col("i0") + 1).as("i"), col("q"))
    val signs = spark.range(1, Dims + 1).select(col("id").as("i"))
      .crossJoin(spark.range(1, projDims + 1).select(col("id").as("j")))
      .select(col("i"), col("j"),
        when(conv(substring(md5(concat(col("i").cast("string"), lit("_"),
          col("j").cast("string"))), 1, 8), 16, 10).cast("long") % 2 === 0,
          lit(1L)).otherwise(lit(-1L)).as("sgn"))
    val proj = comps.join(broadcast(signs), "i")
      .groupBy("vec_id", "j").agg(sum(expr("q * sgn")).as("p"))
    val pn = proj.groupBy("vec_id").agg(sum(expr("p * p")).as("np"))
    val stride = math.max(1L,
      (qv.count() + samplePairs - 1L) / samplePairs)
    val pairs = qv.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("vec_a"), col("qarr").as("qarr_a"),
        col("nq").as("nq_a"))
      .join(qv.select((col("vec_id") - 1).as("vec_a"),
        col("vec_id").as("vec_b"), col("qarr").as("qarr_b"),
        col("nq").as("nq_b")), "vec_a")
    val full = pairs.select(col("vec_a"), col("vec_b"),
      (expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
        .as("cosine_full"))
    val pdots = full
      .join(proj.select(col("vec_id").as("vec_a"), col("j"),
        col("p").as("pa")), "vec_a")
      .join(proj.select(col("vec_id").as("vec_b"), col("j"),
        col("p").as("pb")), Seq("vec_b", "j"))
      .groupBy("vec_a", "vec_b", "cosine_full")
      .agg(sum(expr("pa * pb")).as("pdot"))
    pdots
      .join(pn.select(col("vec_id").as("vec_a"), col("np").as("np_a")), "vec_a")
      .join(pn.select(col("vec_id").as("vec_b"), col("np").as("np_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        r4(col("cosine_full")).as("cosine_full"),
        r4(col("pdot") / (sqrt(col("np_a")) * sqrt(col("np_b"))))
          .as("cosine_proj"),
        r4(abs(col("cosine_full")
          - col("pdot") / (sqrt(col("np_a")) * sqrt(col("np_b")))))
          .as("abs_err"))
      .orderBy("vec_a")
  }

  /** Same md5-parity sign matrix, same two dot/norm chains; the
   *  unrounded cosine difference is the identical IEEE expression
   *  before ONE final r4. */
  val rpDistortionOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
jdims AS (SELECT unnest(range(1, 17)) AS j),
signs AS (
  SELECT d.i, jd.j,
         CASE WHEN CAST(('0x' || substr(md5(d.i || '_' || jd.j), 1, 8)) AS UBIGINT) % 2 = 0
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sgn
  FROM dims d CROSS JOIN jdims jd),
proj AS (
  SELECT v.vec_id, s.j, CAST(SUM(v.q * s.sgn) AS BIGINT) AS p
  FROM qv v JOIN signs s ON v.i = s.i
  GROUP BY v.vec_id, s.j),
pn AS (SELECT vec_id, CAST(SUM(p * p) AS BIGINT) AS np FROM proj GROUP BY vec_id),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM nr a JOIN nr b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % GREATEST(1, (SELECT (COUNT(*) + 79) // 80 FROM embeddings)) = 0),
fdot AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM pairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b),
pdot AS (
  SELECT p.vec_a, p.vec_b, CAST(SUM(pa.p * pb.p) AS BIGINT) AS pd
  FROM pairs p
  JOIN proj pa ON pa.vec_id = p.vec_a
  JOIN proj pb ON pb.vec_id = p.vec_b AND pb.j = pa.j
  GROUP BY p.vec_a, p.vec_b)
SELECT f.vec_a, f.vec_b,
       FLOOR((f.dot / (sqrt(na.nq) * sqrt(nb.nq))) * 10000.0 + 0.5) / 10000.0 AS cosine_full,
       FLOOR((pd.pd / (sqrt(pna.np) * sqrt(pnb.np))) * 10000.0 + 0.5) / 10000.0 AS cosine_proj,
       FLOOR(ABS(f.dot / (sqrt(na.nq) * sqrt(nb.nq))
                 - pd.pd / (sqrt(pna.np) * sqrt(pnb.np))) * 10000.0 + 0.5) / 10000.0 AS abs_err
FROM fdot f
JOIN pdot pd ON f.vec_a = pd.vec_a AND f.vec_b = pd.vec_b
JOIN nr na ON f.vec_a = na.vec_id
JOIN nr nb ON f.vec_b = nb.vec_id
JOIN pn pna ON f.vec_a = pna.vec_id
JOIN pn pnb ON f.vec_b = pnb.vec_id
ORDER BY f.vec_a"""

  /** Per-cell SILHOUETTE of the IVF assignment — the clustering-quality
   *  gauge for every cell-blocked operator in this family (kNN graph,
   *  SemDeDup, topic clusters all trust the assignment): the simplified
   *  (centroid-based) silhouette of each vector, `s = (d_b - d_a) /
   *  d_b` with `d = 1 - cosine`, `d_a` = distance to the ASSIGNED
   *  centroid (the cosine argmax) and `d_b` = distance to the runner-up
   *  — so `s` is in [0, 1] by construction here (the assigned centroid
   *  is never farther than the runner-up) and a LOW mean or a high
   *  near-zero share marks cells whose members sit on a boundary, i.e.
   *  cells whose kNN/SemDeDup recall will be worst. Reference analytics
   *  surface precedent: quality gauges per grouping
   *  (duckdb_store_backup.rs's per-group efficiency scores).
   *
   *  Scale: ONE broadcast-K cosine pass over the corpus (the identical
   *  shape [[nearestCentroids]] runs — O(N·K) work, no pairs), then a
   *  K-row aggregate. Exactness discipline: the per-row silhouette is
   *  quantized to an integer ten-thousandth (`FLOOR(s*10000+0.5)`, a
   *  deterministic per-row projection), so the per-cell SUM is exact
   *  under any aggregation order; means divide at the final projection
   *  only. */
  def clusterSilhouette(emb: DataFrame, numCentroids: Int = AutoCentroids,
                        precomputedQuantized: Option[DataFrame] = None,
                        trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse {
      val q = quantized(emb).cache(); q.count(); q
    }
    val centroids = trainedCentroids
      .map(_.select(col("cent_id"), col("qarr_a"), col("nq_a")))
      .getOrElse(hashCentroids(qv, resolveCentroids(qv, numCentroids)))
    val cos = qv
      .select(col("vec_id"), col("qarr").as("qarr_b"), col("nq").as("nq_b"))
      .crossJoin(broadcast(centroids))
      .withColumn("cosine",
        expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .withColumn("rk", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cosine").desc, col("cent_id"))))
      .filter(col("rk") <= 2)
    val best = cos.filter(col("rk") === 1)
      .select(col("vec_id"), col("cent_id"), col("cosine").as("cos_a"))
    val runner = cos.filter(col("rk") === 2)
      .select(col("vec_id"), col("cosine").as("cos_b"))
    best.join(runner, "vec_id")
      // s = ((1-cos_b) - (1-cos_a)) / (1-cos_b); cos_b < 1 because the
      // runner-up differs from the vector's own direction after
      // milli-quantization on this family's data; guard anyway.
      .withColumn("sil_q",
        when(col("cos_b") >= 1.0, lit(10000L)).otherwise(
          floor((col("cos_a") - col("cos_b")) / (lit(1.0) - col("cos_b"))
            * 10000.0 + 0.5).cast("long")))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("sil_q")).as("sil_sum_q"),
        sum(when(col("sil_q") < 1000L, 1L).otherwise(0L)).as("n_boundary"))
      .select(col("cent_id"), col("n_members"),
        r4(col("sil_sum_q") * lit(1.0) / (col("n_members") * lit(10000.0)))
          .as("mean_silhouette"),
        col("n_boundary"))
      .orderBy("cent_id")
  }

  /** Shares [[ivfAssignCte]]'s `vc_cos`; best/runner-up are rk 1 and 2
   *  of the same ROW_NUMBER. */
  val clusterSilhouetteOracle: String = "WITH " + ivfAssignCte + """,
ranked2 AS (
  SELECT vec_id, cent_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cent_id) AS rk
  FROM vc_cos),
best AS (SELECT vec_id, cent_id, cosine AS cos_a FROM ranked2 WHERE rk = 1),
runner AS (SELECT vec_id, cosine AS cos_b FROM ranked2 WHERE rk = 2),
sil AS (
  SELECT b.vec_id, b.cent_id,
         CASE WHEN r.cos_b >= 1.0 THEN CAST(10000 AS BIGINT)
              ELSE CAST(FLOOR((b.cos_a - r.cos_b) / (1.0 - r.cos_b) * 10000.0 + 0.5) AS BIGINT)
         END AS sil_q
  FROM best b JOIN runner r ON b.vec_id = r.vec_id)
SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       FLOOR((SUM(sil_q) * 1.0 / (COUNT(*) * 10000.0)) * 10000.0 + 0.5) / 10000.0 AS mean_silhouette,
       CAST(SUM(CASE WHEN sil_q < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary
FROM sil GROUP BY cent_id ORDER BY cent_id"""

  /** HARD-NEGATIVE mining for contrastive training: for every anchor
   *  vector, the `m` most-cosine-similar vectors carrying a DIFFERENT
   *  label within the anchor's IVF cell — the near-the-boundary
   *  impostors a contrastive or reranker objective learns most from
   *  (random negatives are trivially separable; the informative ones
   *  are exactly the high-similarity different-label pairs this
   *  returns). Cell-restricted like [[knnGraph]] — candidate work is
   *  Σ|cell|², never |corpus|², hot cells salted AND hard-bounded
   *  ([[Dedup.cappedBucketPairs]]); the same sqrt-N
   *  [[AutoCentroids]] default bounds pair work at N^1.5.
   *
   *  Output: (vec_id, label, rank, negative_id, negative_label,
   *  cosine), up to `m` rows per anchor, both directions of every
   *  candidate pair ranked independently (a's hardest negative may be
   *  b while b's hardest is c). */
  def hardNegatives(emb: DataFrame, m: Int = 3,
                    numCentroids: Int = AutoCentroids,
                    precomputedQuantized: Option[DataFrame] = None,
                    trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val qv = precomputedQuantized.getOrElse {
      val q = quantized(emb).cache(); q.count(); q
    }
    val centroids = trainedCentroids
      .map(_.select(col("cent_id"), col("qarr_a"), col("nq_a")))
      .getOrElse(hashCentroids(qv, resolveCentroids(qv, numCentroids)))
    // CACHED, same rationale as [[knnGraph]]'s assignment cache.
    val assigned = nearestCentroids(qv, centroids, 1).cache()
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("lbl"))
    val cands = Dedup.cappedBucketPairs(assigned, Seq("cent_id"), "vec_id")
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    val sym = cands.union(
      cands.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
    val crossLabel = sym
      .join(labels.select(col("vec_id").as("vec_a"), col("lbl").as("label_a")), "vec_a")
      .join(labels.select(col("vec_id").as("vec_b"), col("lbl").as("label_b")), "vec_b")
      .filter(col("label_a") =!= col("label_b"))
      .select("vec_a", "vec_b", "label_a", "label_b")
    // verifyCosine passes candidate columns through, so the labels ride
    // along — no re-join of the verified pair frame.
    verifyCosine(crossLabel, qv, qv, "vec_a", "vec_b", minCosine = -1.0)
      .withColumn("rk", row_number().over(Window.partitionBy("vec_a")
        .orderBy(col("cosine").desc, col("vec_b"))))
      .filter(col("rk") <= m)
      .select(col("vec_a").as("vec_id"), col("label_a").as("label"),
        col("rk").cast("long").as("rank"), col("vec_b").as("negative_id"),
        col("label_b").as("negative_label"), r4(col("cosine")).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** [[knnGraphOracle]]'s kpairs chain with a cross-label filter before
   *  the dot products (the verify set shrinks first, as in Spark). */
  val hardNegativesOracle: String = "WITH " + ivfAssignCte + """,
lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
hpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, la.lbl AS label_a, lb.lbl AS label_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
  JOIN lbl la ON la.vec_id = a.vec_id
  JOIN lbl lb ON lb.vec_id = b.vec_id
  WHERE la.lbl <> lb.lbl),
hdots AS (
  SELECT p.vec_a, p.vec_b, p.label_a, p.label_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM hpairs p
  JOIN qv qa ON qa.vec_id = p.vec_a
  JOIN qv qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.vec_a, p.vec_b, p.label_a, p.label_b),
hranked AS (
  SELECT d.vec_a, d.vec_b, d.label_a, d.label_b,
         d.dot / (sqrt(na.nq) * sqrt(nb.nq)) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.vec_a
           ORDER BY d.dot / (sqrt(na.nq) * sqrt(nb.nq)) DESC, d.vec_b) AS rk
  FROM hdots d
  JOIN nr na ON d.vec_a = na.vec_id
  JOIN nr nb ON d.vec_b = nb.vec_id)
SELECT vec_a AS vec_id, label_a AS label, CAST(rk AS BIGINT) AS rank,
       vec_b AS negative_id, label_b AS negative_label,
       FLOOR(cosine * 10000.0 + 0.5) / 10000.0 AS cosine
FROM hranked WHERE rk <= 3
ORDER BY vec_id, rank"""

  /** INT8 quantization-distortion audit — the cheapest production
   *  compression every serving stack tries first (symmetric per-vector
   *  int8, 4x smaller than float32): per label, how much cosine
   *  geometry survives `q8_i = FLOOR(q_i * 127 / max|q| + 0.5)`. The
   *  PQ/JL twins ([[pqDistortion]], [[rpDistortion]]) audit the fancier
   *  codecs; this one answers "do we even need them". Per-vector
   *  self-cosine between the milli-quantized vector and its int8 form,
   *  quantized to integer ten-thousandths per row (exact SUM/MIN under
   *  any order), aggregated per label. One projection pass + one
   *  K-label aggregate — no pairs, no shuffle beyond the final
   *  aggregation. */
  def int8Distortion(emb: DataFrame): DataFrame = {
    val qv = quantized(emb)
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")),
        "vec_id")
    // int8_milli fuses the max-abs fold + scale pass into one codegen'd
    // loop (bit-parity with the two-lambda HOF chain: Int8MilliSpec)
    qv.withColumn("q8", call_function("int8_milli", col("qarr")))
      .withColumn("dot8", expr("qdot(qarr, q8)"))
      .withColumn("nq8", expr("qdot(q8, q8)"))
      .withColumn("cos_q",
        when(col("nq8") === 0L, lit(0L)).otherwise(
          floor(col("dot8") / (sqrt(col("nq")) * sqrt(col("nq8")))
            * 10000.0 + 0.5).cast("long")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        sum("cos_q").as("cos_sum_q"),
        min("cos_q").as("min_cos_q"))
      .select(col("label"), col("n_vectors"),
        r4(col("cos_sum_q") * lit(1.0) / (col("n_vectors") * lit(10000.0)))
          .as("mean_cosine"),
        r4(col("min_cos_q") / lit(10000.0)).as("min_cosine"))
      .orderBy("label")
  }

  val int8DistortionOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
vm AS (SELECT vec_id, CAST(MAX(ABS(q)) AS BIGINT) AS mabs,
              CAST(SUM(q * q) AS BIGINT) AS nq
       FROM qv GROUP BY vec_id),
q8 AS (
  SELECT v.vec_id, v.i,
         CASE WHEN m.mabs = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(v.q * 127.0 / m.mabs + 0.5) AS BIGINT) END AS q8
  FROM qv v JOIN vm m ON v.vec_id = m.vec_id),
agg8 AS (
  SELECT v.vec_id, CAST(SUM(v.q * e.q8) AS BIGINT) AS dot8,
         CAST(SUM(e.q8 * e.q8) AS BIGINT) AS nq8
  FROM qv v JOIN q8 e ON v.vec_id = e.vec_id AND v.i = e.i
  GROUP BY v.vec_id),
perv AS (
  SELECT a.vec_id,
         CASE WHEN a.nq8 = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(a.dot8 / (sqrt(m.nq) * sqrt(a.nq8)) * 10000.0 + 0.5) AS BIGINT)
         END AS cos_q
  FROM agg8 a JOIN vm m ON a.vec_id = m.vec_id)
SELECT CAST(e.label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       FLOOR((SUM(p.cos_q) * 1.0 / (COUNT(*) * 10000.0)) * 10000.0 + 0.5) / 10000.0 AS mean_cosine,
       FLOOR((MIN(p.cos_q) / 10000.0) * 10000.0 + 0.5) / 10000.0 AS min_cosine
FROM perv p JOIN embeddings e ON p.vec_id = e.vec_id
GROUP BY e.label ORDER BY label"""

  /** Hybrid retrieval by reciprocal-rank fusion (RRF, Cormack et al.
   *  SIGIR 2009 — the fusion rule hybrid lexical+vector serving stacks
   *  standardized on): a "more-like-this" query for one probe document
   *  scored through BOTH modalities — lexical rank by exact shingle
   *  Jaccard against the probe's gram set, semantic rank by exact
   *  quantized cosine against the probe's embedding — fused as
   *  `1/(rrfK + lex_rank) + 1/(rrfK + sem_rank)` (rrfK = 60, the
   *  published default), a document absent from one top-`topPerList`
   *  list contributing 0 from that list. Surfaces neighbors either
   *  modality alone would miss: paraphrases (semantic-only) and
   *  rare-term exact quotes (lexical-only) land in one ranking, which
   *  is why dedup-adjudication and RAG candidate mining run the fused
   *  list rather than either single-modality top-k.
   *
   *  Determinism contract: both per-list scores are ratios of exact
   *  integers (shared-gram counts / quantized dots through
   *  IEEE-specified sqrt/div), ranks are row_number with id
   *  tie-breaks, and the fused score is a FIXED-ORDER two-term sum of
   *  reciprocals computed in DOUBLE on both engines (the oracle casts
   *  `1.0` to DOUBLE — DuckDB's bare 1.0 literal is DECIMAL and its
   *  fixed-scale division could tie where doubles don't); `r4` only in
   *  the final projection, never in a sort key.
   *
   *  Scale shape: the probe's gram set and quantized vector BROADCAST
   *  (one document); the lexical side is one corpus-shingle scan with
   *  a partial-agg intersection count, the semantic side a pure
   *  projection over the quantized frame; each list collapses through
   *  a distributed TakeOrdered(topPerList) before any window runs (the
   *  row_number windows order <= topPerList rows, never the corpus);
   *  fusion full-outer-joins two <= topPerList-row frames. Nothing
   *  pairs the corpus with itself, and a multi-query batch broadcasts
   *  the query frame exactly like [[annTopK]]. */
  def hybridSearch(docs: DataFrame, emb: DataFrame, queryId: Long = 0L,
                   k: Int = 50, topPerList: Int = 100,
                   rrfK: Int = 60): DataFrame = {
    val sh = Dedup.shingles(docs.select("doc_id", "text"))
    val qGrams = sh.filter(col("doc_id") === queryId).select("gram")
    val qN = qGrams.agg(count(lit(1)).as("n_q"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val lexScored = sh.filter(col("doc_id") =!= queryId)
      .join(broadcast(qGrams), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("inter_n"))
      .join(sizes, "doc_id")
      .crossJoin(broadcast(qN))
      .select(col("doc_id"),
        (col("inter_n") * lit(1.0)
          / (col("n") + col("n_q") - col("inter_n"))).as("jacc"))
    val lex = lexScored.orderBy(col("jacc").desc, col("doc_id"))
      .limit(topPerList)
      .withColumn("lex_rank", row_number().over(Window
        .orderBy(col("jacc").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "lex_rank")
    val qv = quantized(emb)
    val qSide = qv.filter(col("vec_id") === queryId)
      .select(col("qarr").as("qarr_a"), col("nq").as("nq_a"))
    val semScored = qv.filter(col("vec_id") =!= queryId)
      .select(col("vec_id").as("doc_id"), col("qarr").as("qarr_b"),
        col("nq").as("nq_b"))
      .crossJoin(broadcast(qSide))
      .select(col("doc_id"),
        (expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
          .as("cosine"))
    val sem = semScored.orderBy(col("cosine").desc, col("doc_id"))
      .limit(topPerList)
      .withColumn("sem_rank", row_number().over(Window
        .orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "sem_rank")
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(rrfK.toLong) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK.toLong) + col("sem_rank")),
            lit(0.0))).as("rrf"),
        col("lex_rank"), col("sem_rank"))
    fused.orderBy(col("rrf").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), r4(col("rrf")).as("rrf_score"),
        col("lex_rank"), col("sem_rank"))
      .orderBy("rank")
  }

  /** Shares [[graft.pipeline.Dedup.shinglesCte]] (lexical side) and
   *  the qv/nr quantization chain (semantic side); reciprocals divide
   *  through an explicit DOUBLE cast — see the determinism note on
   *  [[hybridSearch]]. */
  lazy val hybridSearchOracle: String =
    "WITH " + Dedup.shinglesCte.trim + """,
qg AS (SELECT gram FROM shingle WHERE doc_id = 0),
qn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_q FROM qg),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle s JOIN qg ON s.gram = qg.gram
  WHERE s.doc_id <> 0 GROUP BY s.doc_id),
lexs AS (
  SELECT i.doc_id, i.inter_n * 1.0 / (z.n + q.n_q - i.inter_n) AS jacc
  FROM inter i JOIN sizes z ON i.doc_id = z.doc_id CROSS JOIN qn q),
lexr AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY jacc DESC, doc_id) AS BIGINT) AS lex_rank
  FROM lexs),
lex AS (SELECT doc_id, lex_rank FROM lexr WHERE lex_rank <= 100),
dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
qq AS (SELECT i, q FROM qv WHERE vec_id = 0),
n0 AS (SELECT nq AS nq_a FROM nr WHERE vec_id = 0),
dots AS (
  SELECT v.vec_id AS doc_id, CAST(SUM(v.q * qq.q) AS BIGINT) AS dot
  FROM qv v JOIN qq ON v.i = qq.i
  WHERE v.vec_id <> 0 GROUP BY v.vec_id),
sems AS (
  SELECT d.doc_id, d.dot / (sqrt(a.nq_a) * sqrt(b.nq)) AS cosine
  FROM dots d JOIN nr b ON d.doc_id = b.vec_id CROSS JOIN n0 a),
semr AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS sem_rank
  FROM sems),
sem AS (SELECT doc_id, sem_rank FROM semr WHERE sem_rank <= 100),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), CAST(0 AS DOUBLE))
           + COALESCE(CAST(1.0 AS DOUBLE) / (60 + s.sem_rank), CAST(0 AS DOUBLE)) AS rrf,
         l.lex_rank, s.sem_rank
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
         doc_id, rrf, lex_rank, sem_rank
  FROM fused)
SELECT rank, doc_id,
       FLOOR(rrf * 10000.0 + 0.5) / 10000.0 AS rrf_score, lex_rank, sem_rank
FROM ranked WHERE rank <= 50
ORDER BY rank"""

  /** Matryoshka / prefix-dimension recall sweep — the "how many
   *  dimensions does serving actually need" gauge (Kusupati et al.
   *  NeurIPS 2022 matryoshka representation learning made a truncated
   *  PREFIX of the embedding the standard cheap serving mode; this
   *  measures what that truncation costs on THIS corpus): for each
   *  prefix width d, brute-force cosine top-k over the first d
   *  quantized dims for the fixed query set, scored against the
   *  full-width top-k as truth. Recall@k per width is the table that
   *  picks the serving width before a 100 TB index build commits to
   *  one — alongside `int8_distortion` (value quantization) and
   *  `pq_recall` (codebook quantization), this covers the third
   *  compression axis: dimension truncation.
   *
   *  Determinism: prefix dots/norms are exact integers; a zero prefix
   *  norm scores cosine 0 by an explicit CASE on BOTH engines (0/0
   *  would be NaN, whose sort order engines disagree on); ties break
   *  on vec_id. Scale shape: one broadcast of the bounded query set
   *  per width — the [[annTopK]] plan with sliced arrays; per-query
   *  top-k via window over the per-query candidate stream; widths
   *  union at |widths| x |queries| x k cardinality. Corpus is scanned
   *  |widths| times and never self-joined. */
  def matryoshkaRecall(emb: DataFrame, queries: DataFrame, k: Int = 10,
                       widths: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(widths.nonEmpty && widths.max <= Dims,
      s"prefix widths must be <= $Dims")
    val qv = quantized(emb).cache()
    val qq = quantized(queries)
    def topkAt(d: Int): DataFrame = {
      def pre(c: org.apache.spark.sql.Column) =
        if (d == Dims) c else slice(c, 1, d)
      val qside = qq
        .select(col("vec_id").as("query_id"), pre(col("qarr")).as("qarr_a"))
        .withColumn("nq_a", expr("qdot(qarr_a, qarr_a)"))
      qv.select(col("vec_id"), pre(col("qarr")).as("qarr_b"))
        .withColumn("nq_b", expr("qdot(qarr_b, qarr_b)"))
        .crossJoin(broadcast(qside))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("cosine",
          when(col("nq_a") * col("nq_b") === 0L, lit(0.0))
            .otherwise(expr(pairDot)
              / (sqrt(col("nq_a")) * sqrt(col("nq_b")))))
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id"))
    }
    val truth = topkAt(Dims).cache()
    val truthN = truth.agg(count(lit(1)).as("n_truth"))
    val perWidth = widths.map { d =>
      topkAt(d).join(truth, Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d.toLong).as("dims"), col("n_hits"))
    }.reduce(_.unionByName(_))
    val composed = perWidth.crossJoin(broadcast(truthN))
      .select(col("dims"), col("n_hits"), col("n_truth"),
        r4(col("n_hits") * lit(1.0) / col("n_truth")).as("recall"))
      .orderBy("dims")
    val out = composed.localCheckpoint() // |widths| rows
    truth.unpersist()
    qv.unpersist()
    out
  }

  /** Width-config cross join over the shared qv chain; the zero-norm
   *  CASE and the vec_id tie-break mirror [[matryoshkaRecall]]
   *  exactly. Queries = the harness ANN query set. */
  lazy val matryoshkaRecallOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
cfg AS (SELECT unnest([8, 16, 32, 64]) AS w),
nr AS (
  SELECT c.w, v.vec_id, CAST(SUM(v.q * v.q) AS BIGINT) AS nq
  FROM qv v CROSS JOIN cfg c WHERE v.i <= c.w
  GROUP BY c.w, v.vec_id),
queries AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0 AND vec_id < 2000),
dots AS (
  SELECT c.w, qs.query_id, v.vec_id, CAST(SUM(qs.q * v.q) AS BIGINT) AS dot
  FROM queries qs
  JOIN qv v ON qs.i = v.i
  CROSS JOIN cfg c
  WHERE qs.query_id <> v.vec_id AND qs.i <= c.w
  GROUP BY c.w, qs.query_id, v.vec_id),
sims AS (
  SELECT d.w, d.query_id, d.vec_id,
         CASE WHEN na.nq * nb.nq = 0 THEN 0.0
              ELSE d.dot / (sqrt(na.nq) * sqrt(nb.nq)) END AS cosine
  FROM dots d
  JOIN nr na ON na.w = d.w AND na.vec_id = d.query_id
  JOIN nr nb ON nb.w = d.w AND nb.vec_id = d.vec_id),
ranked AS (
  SELECT w, query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY w, query_id
                            ORDER BY cosine DESC, vec_id) AS rk
  FROM sims),
approx AS (SELECT w, query_id, vec_id FROM ranked WHERE rk <= 10),
truth AS (SELECT query_id, vec_id FROM approx WHERE w = 64),
tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
hitrows AS (
  SELECT a.w
  FROM approx a JOIN truth t
    ON a.query_id = t.query_id AND a.vec_id = t.vec_id),
hits AS (
  SELECT c.w, CAST(COUNT(h.w) AS BIGINT) AS n_hits
  FROM cfg c LEFT JOIN hitrows h ON h.w = c.w
  GROUP BY c.w)
SELECT CAST(h.w AS BIGINT) AS dims, h.n_hits, tn.n_truth,
       FLOOR((h.n_hits * 1.0 / tn.n_truth) * 10000.0 + 0.5) / 10000.0 AS recall
FROM hits h CROSS JOIN tn
ORDER BY dims"""

  /** Binary-quantization serving-path recall — the 4 B/vector extreme
   *  of the compression family ([[matryoshkaRecall]] truncates
   *  dimensions, `int8_distortion` narrows values, `pq_recall`
   *  codebook-quantizes; this keeps ONE SIGN BIT per hyperplane): the
   *  modern vector-store cheap mode, serving as hamming-distance
   *  shortlist over the 32-bit [[signFp]] fingerprints followed by an
   *  exact rerank of the shortlist — measured here as recall@k vs the
   *  exact cosine top-k, per shortlist size. The table prices the
   *  bit-index: how large a hamming shortlist buys back the recall
   *  the 1-bit quantization loses.
   *
   *  Determinism: hamming is integer bit_count(xor) with vec_id
   *  tie-break; the rerank cosine is the exact quantized dot (same
   *  arithmetic as truth, which is [[annTopK]]'s chain verbatim).
   *  Scale shape: fingerprints are a pure projection (4 B/vector
   *  state); the hamming pass is one broadcast-query scan of the fp
   *  frame (in-row xor, no candidate blowup); the exact rerank joins
   *  only |queries| x maxShortlist rows back to the quantized frame.
   *  Corpus is never self-joined. */
  def bqRecall(emb: DataFrame, queries: DataFrame, k: Int = 10,
               shortlists: Seq[Int] = Seq(10, 50, 100)): DataFrame = {
    require(shortlists.nonEmpty && shortlists.forall(_ >= k),
      s"every shortlist size must be >= k=$k")
    val qv = quantized(emb).cache()
    val qq = quantized(queries)
    val qfp = signFp(qq)
      .select(col("vec_id").as("query_id"), col("fp").as("qfp"))
    val short = signFp(qv).crossJoin(broadcast(qfp))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        expr("bit_count(fp ^ qfp)").cast("long").as("hamming"))
      .withColumn("hrk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("hamming"), col("vec_id"))))
      .filter(col("hrk") <= shortlists.max)
    val withCos = short
      .join(qv.select(col("vec_id"), col("qarr").as("qarr_b"),
        col("nq").as("nq_b")), "vec_id")
      .join(broadcast(qq.select(col("vec_id").as("query_id"),
        col("qarr").as("qarr_a"), col("nq").as("nq_a"))), "query_id")
      .withColumn("cosine",
        expr(pairDot) / (sqrt(col("nq_a")) * sqrt(col("nq_b"))))
      .select("query_id", "vec_id", "hrk", "cosine")
      .cache()
    val truth = annTopK(emb, queries, k).select("query_id", "vec_id").cache()
    val truthN = truth.agg(count(lit(1)).as("n_truth"))
    val perSize = shortlists.map { sN =>
      val top = withCos.filter(col("hrk") <= sN)
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rk") <= k)
        .select("query_id", "vec_id")
      top.join(truth, Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(sN.toLong).as("shortlist"), col("n_hits"))
    }.reduce(_.unionByName(_))
    val composed = perSize.crossJoin(broadcast(truthN))
      .select(col("shortlist"), col("n_hits"), col("n_truth"),
        r4(col("n_hits") * lit(1.0) / col("n_truth")).as("recall"))
      .orderBy("shortlist")
    val out = composed.localCheckpoint() // |shortlists| rows
    withCos.unpersist()
    truth.unpersist()
    qv.unpersist()
    out
  }

  /** Shares [[planeFpCte]] (the fingerprint bits) and the qv/nr
   *  cosine chain with the LSH/topk oracles; zero-hit shortlist sizes
   *  keep their row via the cfg LEFT JOIN. */
  lazy val bqRecallOracle: String = "WITH " + planeFpCte.trim + """,
qf AS (SELECT vec_id AS query_id, fp AS qfp FROM fp WHERE vec_id % 100 = 0 AND vec_id < 2000),
ham AS (
  SELECT q.query_id, f.vec_id,
         CAST(bit_count(xor(f.fp, q.qfp)) AS BIGINT) AS hamming
  FROM fp f CROSS JOIN qf q WHERE f.vec_id <> q.query_id),
hrk AS (
  SELECT query_id, vec_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming, vec_id) AS hrk
  FROM ham),
short AS (SELECT query_id, vec_id, hrk FROM hrk WHERE hrk <= 100),
sdots AS (
  SELECT s.query_id, s.vec_id, s.hrk, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM short s
  JOIN qv qa ON qa.vec_id = s.query_id
  JOIN qv qb ON qb.vec_id = s.vec_id AND qb.i = qa.i
  GROUP BY s.query_id, s.vec_id, s.hrk),
ssims AS (
  SELECT d.query_id, d.vec_id, d.hrk,
         d.dot / (sqrt(na.nq) * sqrt(nb.nq)) AS cosine
  FROM sdots d
  JOIN nr na ON na.vec_id = d.query_id
  JOIN nr nb ON nb.vec_id = d.vec_id),
cfg AS (SELECT unnest([10, 50, 100]) AS s),
rr AS (
  SELECT c.s, m.query_id, m.vec_id,
         ROW_NUMBER() OVER (PARTITION BY c.s, m.query_id
                            ORDER BY m.cosine DESC, m.vec_id) AS rk
  FROM ssims m CROSS JOIN cfg c WHERE m.hrk <= c.s),
approx AS (SELECT s, query_id, vec_id FROM rr WHERE rk <= 10),
tdots AS (
  SELECT qs.query_id, v.vec_id, CAST(SUM(qs.qq * v.q) AS BIGINT) AS dot
  FROM (SELECT vec_id AS query_id, i, q AS qq FROM qv
        WHERE vec_id % 100 = 0 AND vec_id < 2000) qs
  JOIN qv v ON qs.i = v.i
  WHERE qs.query_id <> v.vec_id
  GROUP BY qs.query_id, v.vec_id),
tsims AS (
  SELECT d.query_id, d.vec_id, d.dot / (sqrt(na.nq) * sqrt(nb.nq)) AS cosine
  FROM tdots d
  JOIN nr na ON na.vec_id = d.query_id
  JOIN nr nb ON nb.vec_id = d.vec_id),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id) AS rk
    FROM tsims) WHERE rk <= 10),
tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
hitrows AS (
  SELECT a.s
  FROM approx a JOIN truth t
    ON a.query_id = t.query_id AND a.vec_id = t.vec_id),
hits AS (
  SELECT c.s, CAST(COUNT(h.s) AS BIGINT) AS n_hits
  FROM cfg c LEFT JOIN hitrows h ON h.s = c.s
  GROUP BY c.s)
SELECT CAST(h.s AS BIGINT) AS shortlist, h.n_hits, tn.n_truth,
       FLOOR((h.n_hits * 1.0 / tn.n_truth) * 10000.0 + 0.5) / 10000.0 AS recall
FROM hits h CROSS JOIN tn
ORDER BY shortlist"""

  /** INT8 serving-path recall — the missing gauge of the compression
   *  family: `int8_distortion` audits how much cosine GEOMETRY the
   *  per-vector symmetric int8 codec keeps; this measures what that
   *  distortion costs where it matters, recall@k of the int8-ranked
   *  top-k against the exact top-k ([[pqRecall]] prices the PQ codec,
   *  [[bqRecall]] the 1-bit codec, [[matryoshkaRecall]] dimension
   *  truncation — int8 is the 4×-smaller full-scan mode every serving
   *  stack tries first). Quantization rule is [[int8Distortion]]'s
   *  verbatim: `q8_i = FLOOR(q_i * 127 / max|q| + 0.5)` over the
   *  milli-quantized ints, zero vectors stay zero. Per-vector scales
   *  cancel in cosine, so int8 ranking is `dot8 / (sqrt(nq8_a) *
   *  sqrt(nq8_b))` — exact integer dots through IEEE sqrt/div, id
   *  tie-breaks, the family's determinism contract.
   *
   *  Scale shape: the int8 frame is a pure projection over the
   *  quantized index; ranking is one broadcast-query corpus scan
   *  (in-row `qdot`, no candidate blowup, the [[annTopK]] baseline
   *  plan); the per-k rollup collapses to |ks| rows. Corpus is never
   *  self-joined. */
  def int8Recall(emb: DataFrame, queries: DataFrame,
                 ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    val kmax = ks.max
    def toInt8(df: DataFrame): DataFrame = quantized(df)
      .withColumn("q8", call_function("int8_milli", col("qarr")))
      .withColumn("nq8", expr("qdot(q8, q8)"))
      .select("vec_id", "q8", "nq8")
    val apx = toInt8(emb)
      .crossJoin(broadcast(toInt8(queries).select(
        col("vec_id").as("query_id"),
        col("q8").as("q8_q"), col("nq8").as("nq8_q"))))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos8",
        when(col("nq8") * col("nq8_q") === 0L, lit(0.0))
          .otherwise(expr("qdot(q8, q8_q)")
            / (sqrt(col("nq8")) * sqrt(col("nq8_q")))))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos8").desc, col("vec_id"))))
      .filter(col("rk") <= kmax)
      .select("query_id", "vec_id", "rk")
      .cache()
    val truth = annTopK(emb, queries, kmax)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .cache()
    val perK = ks.map { k =>
      val tn = truth.filter(col("rank") <= k)
        .agg(count(lit(1)).as("n_truth"))
      apx.filter(col("rk") <= k)
        .join(truth.filter(col("rank") <= k),
          Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(k.toLong).as("k"), col("n_hits"))
        .crossJoin(broadcast(tn))
    }.reduce(_.unionByName(_))
    val composed = perK
      .select(col("k"), col("n_hits"), col("n_truth"),
        r4(col("n_hits") * lit(1.0) / col("n_truth")).as("recall"))
      .orderBy("k")
    val out = composed.localCheckpoint() // |ks| rows
    apx.unpersist()
    truth.unpersist()
    out
  }

  /** Shares the qv/nr milli-quantization CTEs with [[annTopKOracle]];
   *  the int8 rule mirrors [[int8DistortionOracle]]'s q8 CTE verbatim;
   *  per-k counting via the cfg LEFT JOIN (zero-hit k keeps its row,
   *  the [[bqRecallOracle]] discipline). */
  lazy val int8RecallOracle: String = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
qv AS (
  SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, dims),
nr AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM qv GROUP BY vec_id),
vm AS (SELECT vec_id, CAST(MAX(ABS(q)) AS BIGINT) AS mabs FROM qv GROUP BY vec_id),
q8 AS (
  SELECT v.vec_id, v.i,
         CASE WHEN m.mabs = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(v.q * 127.0 / m.mabs + 0.5) AS BIGINT) END AS q8
  FROM qv v JOIN vm m ON v.vec_id = m.vec_id),
n8 AS (SELECT vec_id, CAST(SUM(q8 * q8) AS BIGINT) AS nq8 FROM q8 GROUP BY vec_id),
q8q AS (SELECT vec_id AS query_id, i, q8 AS q8_q FROM q8
        WHERE vec_id % 100 = 0 AND vec_id < 2000),
d8 AS (
  SELECT qs.query_id, v.vec_id, CAST(SUM(qs.q8_q * v.q8) AS BIGINT) AS dot8
  FROM q8q qs JOIN q8 v ON qs.i = v.i
  WHERE qs.query_id <> v.vec_id
  GROUP BY qs.query_id, v.vec_id),
s8 AS (
  SELECT d.query_id, d.vec_id,
         CASE WHEN na.nq8 * nb.nq8 = 0 THEN 0.0
              ELSE d.dot8 / (sqrt(na.nq8) * sqrt(nb.nq8)) END AS cos8
  FROM d8 d
  JOIN n8 na ON na.vec_id = d.query_id
  JOIN n8 nb ON nb.vec_id = d.vec_id),
r8 AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos8 DESC, vec_id) AS rk
  FROM s8),
tdots AS (
  SELECT qs.query_id, v.vec_id, CAST(SUM(qs.qq * v.q) AS BIGINT) AS dot
  FROM (SELECT vec_id AS query_id, i, q AS qq FROM qv
        WHERE vec_id % 100 = 0 AND vec_id < 2000) qs
  JOIN qv v ON qs.i = v.i
  WHERE qs.query_id <> v.vec_id
  GROUP BY qs.query_id, v.vec_id),
tsims AS (
  SELECT d.query_id, d.vec_id, d.dot / (sqrt(na.nq) * sqrt(nb.nq)) AS cosine
  FROM tdots d
  JOIN nr na ON na.vec_id = d.query_id
  JOIN nr nb ON nb.vec_id = d.vec_id),
tr AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rk
  FROM tsims),
cfg AS (SELECT unnest([1, 5, 10]) AS k),
approx AS (SELECT c.k, r.query_id, r.vec_id FROM r8 r
           CROSS JOIN cfg c WHERE r.rk <= c.k),
truth AS (SELECT c.k, t.query_id, t.vec_id FROM tr t
          CROSS JOIN cfg c WHERE t.rk <= c.k),
tn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth GROUP BY k),
hitrows AS (
  SELECT a.k
  FROM approx a JOIN truth t
    ON a.k = t.k AND a.query_id = t.query_id AND a.vec_id = t.vec_id),
hits AS (
  SELECT c.k, CAST(COUNT(h.k) AS BIGINT) AS n_hits
  FROM cfg c LEFT JOIN hitrows h ON h.k = c.k
  GROUP BY c.k)
SELECT CAST(h.k AS BIGINT) AS k, h.n_hits, tn.n_truth,
       FLOOR((h.n_hits * 1.0 / tn.n_truth) * 10000.0 + 0.5) / 10000.0 AS recall
FROM hits h JOIN tn ON tn.k = h.k
ORDER BY k"""
}
