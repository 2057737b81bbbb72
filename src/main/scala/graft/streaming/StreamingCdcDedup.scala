package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.pipeline.Dedup

/**
 * Streaming CDC chunk dedup of a document stream — the chunk-store
 * admission gate ([[graft.pipeline.Dedup.cdcChunkDedup]]'s
 * LBFS/FastCDC accounting run per micro-batch): a document whose
 * every content-defined chunk already exists in the chunk store is
 * fully reconstructible from stored content and is dropped; anything
 * contributing at least one novel chunk is admitted. This sits
 * between the exact gate (verbatim only) and the near-dup gates
 * (whole-doc similarity): concatenations and re-orderings of stored
 * material — which are neither verbatim copies nor near-dups of any
 * single stored document — dedup almost all their chunk mass here
 * (only the junction chunks read as novel), and the per-doc ledger
 * prices exactly that.
 *
 * State is parquet, like every loop in this family: the accepted-doc
 * store plus ONE append-only chunk-identity store `(fp, len)`
 * ([[Dedup.cdcChunkStore]] layout), distinct-folded at read —
 * membership semantics, so replayed appends are harmless. Per
 * trigger: the batch is chunked (O(batch) — projection + per-doc
 * windows), probes the folded store with one (fp, len)-keyed hash
 * join, batch-internal duplication collapses by the same keep-first
 * occ-key order the offline operator uses, and the two appends (docs,
 * then chunk identities — [[StateStores.commit]]'s order) are
 * O(batch). Corpus TEXT is never an input to a
 * trigger (plan-audited in StreamingIngestSpec). Replayed batches
 * (at-least-once restart) find all their chunks already stored, drop
 * entirely, and append nothing new to the doc store.
 */
object StreamingCdcDedup {

  private val chunkSchema = StructType(Seq(
    StructField("fp", LongType), StructField("len", LongType)))

  private def chunksOf(storeDir: String) = storeDir + "_chunks"

  /** One micro-batch's per-doc chunk-dup ledger, built ONLY from the
   *  chunk store + the batch (exposed for testing and the plan
   *  audit): [[Dedup.cdcChunkDedupIncremental]]'s output shape. */
  def triggerFlags(spark: SparkSession, batch: DataFrame,
                   chunksDir: String, avgChunk: Int = 8): DataFrame =
    Dedup.cdcChunkDedupIncremental(
      StateStores.read(spark, chunksDir, chunkSchema), batch, avgChunk)

  /** One micro-batch of the loop: ledger from the store, drop docs
   *  with `dup_tokens == n_tokens` (fully reconstructible — an exact
   *  integer test, no float threshold), append survivors and their
   *  chunk identities. Batch-internal copies drop against earlier
   *  batch occurrences via the incremental operator's keep-first. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   chunksDir: String, avgChunk: Int = 8): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text")
    val keep = triggerFlags(spark, b, chunksDir, avgChunk)
      .filter(col("dup_tokens") =!= col("n_tokens"))
      .select("doc_id")
    val survivors = b.join(keep, "doc_id").cache()
    StateStores.commit(None, storeDir -> survivors,
      chunksDir -> Dedup.cdcChunkStore(survivors, avgChunk))
    survivors.unpersist()
    ()
  }

  /** Offline state maintenance between stream restarts: the chunk
   *  store distinct-folds and repartitions by fp — same read
   *  semantics, fewer files ([[StateStores.swapIn]]). */
  def compactState(spark: SparkSession, storeDir: String): Unit = {
    val dir = chunksOf(storeDir)
    StateStores.swapIn(spark, dir)(tmp =>
      spark.read.schema(chunkSchema).parquet(dir)
        .distinct()
        .repartition(32, col("fp"))
        .write.parquet(tmp))
  }

  /** Start the CDC-dedup ingest loop over a streaming documents frame
   *  (`doc_id`, `text`); the chunk store is a sibling of `storeDir`. */
  def dedupedDocStream(docs: DataFrame, storeDir: String, checkpoint: String,
                       avgChunk: Int = 8): StreamingQuery =
    StateStores.availableNow(docs, checkpoint)((batch, batchId) =>
      processBatch(batch, batchId, storeDir, chunksOf(storeDir), avgChunk))
}
