package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import graft.pipeline.Embeddings

/**
 * Streaming EMBEDDING-cosine near-dup — the vector-modality member of
 * the streaming dedup family ([[StreamingDedup]] n-gram Jaccard,
 * [[StreamingExactDedup]] verbatim copies, [[StreamingSimhashDedup]]
 * hamming bands, [[StreamingMinhashDedup]] signature LSH, this
 * sign-bit hyperplane LSH over vectors). A trigger quantizes the
 * BATCH's vectors only (O(batch)), derives their sign-bit nibbles,
 * band-joins them against the maintained quantized index — the SAME
 * `writeQuantizedStore` frame the whole batch ANN family serves
 * queries from, so the stream and the ANN index share one state — and
 * exact-verifies candidates by in-row `qdot` cosine. The batch
 * restriction sits below the pair join; corpus raw embeddings are
 * never re-read by a trigger (plan-audited in PlanAuditSpec: the
 * plan's only file scan is the quantized store).
 *
 * State per corpus vector: the quantized vector itself (64 longs +
 * norm) for VERIFY, plus one wide sign fingerprint long (the
 * `<qvDir>_fp` sibling) for BANDING — the sf10 probe measured the
 * derive-fingerprints-per-trigger shape costing O(state × planes)
 * qdot projections (the trigger's actual linear term, 10.5→68 s per
 * 4× state at 32 planes), so band keys now come off an
 * 8-byte-per-vector columnar scan, the simhash-family profile. ONE
 * stored 64-plane fp serves both widths (planes 0-31 share formulas:
 * fp32 = fp64 & 0xFFFFFFFF), so the width knob never invalidates
 * state; a pre-fp-sibling store falls back to deriving (correct,
 * old cost) until [[compactState]] rebuilds the sibling. Appends are
 * per-vector rows; replayed batches (at-least-once restarts)
 * re-append byte-identical rows and [[compactState]]'s distinct
 * restores one row per vector. Survivor orientation is
 * [[StreamingDedup]]'s — see its header; write ordering is
 * [[StateStores.commit]]'s.
 *
 * WIDTH: `planes` defaults to [[PlanesAuto]] — the width is chosen
 * PER TRIGGER from the maintained fp store's row count (a
 * footer-metadata parquet count, no data scan): 32-plane / 4×8-bit
 * bands below [[AutoWideVectors]] (100k) stored vectors,
 * [[graft.pipeline.Embeddings.NumPlanesWide]] (64-plane / 4×16-bit)
 * above. The 32-bit banding's trigger cost is LINEAR in store size
 * (sf10 probe: 4.7× per 4× state at a 480k-vector store — 256-value
 * bands saturate, the simhash-32 shape), so a defaults-only
 * deployment previously inherited a measured scale cliff; auto-width
 * caps it at the wide mode's flat band occupancy. Unlike simhash,
 * widening is NOT free: sign-LSH banding is probabilistic and 16-bit
 * bands shift the match S-curve right (both widths' recall per
 * true-cosine bucket is MEASURED in PipelineSpec "band recall"; both
 * trigger costs are standing bench keys `stream_emb{,64}_trigger_*`)
 * — which is why the default keeps the higher-recall 32-plane
 * banding while the store is small, and why the threshold sits where
 * the probe located the cliff's onset, not at zero. Pin `planes`
 * explicitly to hold one width; the stored 64-plane fingerprints
 * serve BOTH widths (fp32 = fp64 & 0xFFFFFFFF), so the knob — and
 * the auto-switch as the store grows past the threshold — never
 * invalidates state. Deployments wanting zero banding-recall loss
 * run the SemDeDup centroid-blocked batch path
 * ([[graft.pipeline.Embeddings.dedupSemantic]], hot-cell capped) as
 * the periodic compaction-time sweep instead.
 */
object StreamingEmbeddingDedup {

  /** Sentinel `planes` value: resolve the banding width per trigger
   *  from the fp store's size (see the WIDTH scaladoc above). */
  val PlanesAuto: Int = 0

  /** Auto-width threshold: stores at or beyond this many vectors band
   *  at [[graft.pipeline.Embeddings.NumPlanesWide]]. Set where the
   *  sf10 probe measured the 32-bit banding's linear-in-state cost
   *  overtaking the wide mode (bench_sf10_r14/r15: 32-bit already
   *  4.7× at 480k; comparable at ~120k). */
  val AutoWideVectors: Long = 100000L

  /** Resolve [[PlanesAuto]] against the maintained state: the fp
   *  sibling's row count when it exists (8 B/vector frame, and the
   *  count is answered from parquet footers — no data scan), else the
   *  quantized store's, else 0 (cold start → narrow). A pinned
   *  `planes > 0` passes through untouched. */
  private def resolvePlanes(spark: SparkSession, planes: Int,
                            qvDir: String, fpDir: String,
                            autoWideAt: Long): Int =
    if (planes > 0) planes
    else {
      def countIf(dir: String, schema: StructType): Option[Long] =
        if (StateStores.exists(spark, dir))
          Some(spark.read.schema(schema).parquet(dir).count())
        else None
      val stored = countIf(fpDir, fpSchema)
        .orElse(countIf(qvDir, qvSchema)).getOrElse(0L)
      if (stored >= autoWideAt) Embeddings.NumPlanesWide
      else Embeddings.NumPlanes
    }

  private val qvSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("qarr", ArrayType(LongType)),
    StructField("nq", LongType)))

  private val fpSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("fp", LongType)))

  private def qvOf(storeDir: String) = storeDir + "_qv"
  private def fpOf(qvDir: String) = qvDir + "_fp"

  /** The near-dup pair frame for one micro-batch, built ONLY from the
   *  maintained quantized index, its `<qvDir>_fp` sibling and the
   *  batch itself — corpus embeddings are not an input (audited in
   *  PlanAuditSpec: the plan's only file scans are those stores). */
  def triggerPairs(spark: SparkSession, batch: DataFrame, qvDir: String,
                   minCosine: Double,
                   planes: Int = PlanesAuto,
                   autoWideAt: Long = AutoWideVectors): DataFrame = {
    val fpDir = fpOf(qvDir)
    // Banding side: the maintained fp store (8 B/vector scan) when it
    // exists; a store created before the fp sibling landed falls back
    // to deriving fingerprints from the quantized rows — correct at
    // the measured O(state x planes) cost — until compactState (which
    // rebuilds the sibling) or the next seeded restart.
    val fps = Some(fpDir).filter(StateStores.exists(spark, _))
      .map(spark.read.schema(fpSchema).parquet(_))
    Embeddings.dedupEmbeddingIncremental(
      StateStores.read(spark, qvDir, qvSchema), batch, minCosine,
      resolvePlanes(spark, planes, qvDir, fpDir, autoWideAt), fps)
  }

  /** One micro-batch: detect pairs, append the surviving raw vectors
   *  to the corpus store and their quantized rows to the index store.
   *  Both appends are O(batch). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   pairsDir: String, qvDir: String,
                   minCosine: Double,
                   planes: Int = PlanesAuto,
                   autoWideAt: Long = AutoWideVectors): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("vec_id", "embedding")
    val pairs = triggerPairs(spark, b, qvDir, minCosine, planes, autoWideAt)
      .cache()
    pairs.count() // read by the ledger append and the survivor chain
    val survivors = StreamingDedup.pairSurvivors(b, pairs, "vec").cache()
    // The qv and fp appends both read the survivors' quantized rows:
    // the fp append derives from them (embFingerprintsFromQuantized,
    // bit-identical to quantizing again by definition) rather than
    // quantizing the survivors a second time.
    val survQv = Embeddings.quantizedIndex(survivors).cache()
    survQv.count()
    StateStores.commit(
      Some(pairsDir -> pairs.withColumn("batch_id", lit(batchId))),
      storeDir -> survivors,
      qvDir -> survQv,
      fpOf(qvDir) -> Embeddings.embFingerprintsFromQuantized(survQv))
    survQv.unpersist()
    survivors.unpersist()
    pairs.unpersist()
  }

  /** Offline state maintenance between stream restarts: replayed
   *  batches append byte-identical (vec_id, qarr, nq) rows, so
   *  compaction is distinct + rewrite ([[StateStores.swapIn]]). The
   *  fp sibling is REBUILT from the compacted quantized rows (also
   *  the migration path that materializes it for a pre-fp-store
   *  deployment). */
  def compactState(spark: SparkSession, storeDir: String): Unit = {
    val dir = qvOf(storeDir)
    if (!StateStores.exists(spark, dir)) return
    StateStores.install(spark, dir)(tmp =>
      spark.read.schema(qvSchema).parquet(dir)
        .distinct().repartition(32).write.parquet(tmp))
    StateStores.install(spark, fpOf(dir))(tmp =>
      Embeddings.embFingerprintsFromQuantized(
          spark.read.schema(qvSchema).parquet(dir))
        .repartition(32).write.parquet(tmp))
  }

  /** Start the loop over a streaming embeddings frame (schema must
   *  include `vec_id` and `embedding: array<float>`). The quantized
   *  index store is a sibling of `storeDir`. */
  def dedupedVecStream(vecs: DataFrame, storeDir: String, pairsDir: String,
                       checkpoint: String, minCosine: Double = 0.4,
                       planes: Int = PlanesAuto): StreamingQuery =
    StateStores.availableNow(vecs, checkpoint)((batch, batchId) =>
      processBatch(batch, batchId, storeDir, pairsDir, qvOf(storeDir),
        minCosine, planes))
}
