package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.Dedup

/**
 * Streaming MinHash near-dup dedup — the sketch-family member of the
 * streaming dedup loops ([[StreamingDedup]] = n-gram Jaccard over a
 * shingle + gram-df store, [[StreamingExactDedup]] = verbatim copies
 * over a bloom + hash store, [[StreamingSimhashDedup]] = hamming-ball
 * near-dups over a fingerprint store, this = banded-LSH near-dups over
 * a SIGNATURE store). MinHash's incremental story needs no df state at
 * all: signatures are per-document, so a trigger computes the BATCH's
 * shingles + 16-column signature (O(batch)), band-joins them against
 * the signature store, and verifies candidates by exact Jaccard
 * against the shingle store — the batch restriction sits below the
 * pair join, per-trigger compute is O(batch), and the only O(corpus)
 * terms are the two columnar store scans. Corpus TEXT is never read by
 * a trigger (plan-audited in PlanAuditSpec).
 *
 * State per corpus doc: 16 longs (signature store, banded candidates)
 * + its shingle rows (shingle store, exact verify). Both stores append
 * per-document rows — there is nothing to fold at read time, so
 * replayed batches (at-least-once restarts) re-append byte-identical
 * rows and [[compactState]]'s distinct restores one row per key.
 * Survivor orientation and replay tolerance are [[StreamingDedup]]'s —
 * see its header; write ordering is [[StateStores.commit]]'s.
 */
object StreamingMinhashDedup {

  private val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("gram", StringType)))
  private val sigSchema = StructType(
    StructField("doc_id", LongType) +:
      (0 until Dedup.NumHashes).map(j => StructField(s"mh$j", LongType)))

  private def shinglesOf(storeDir: String) = storeDir + "_shingles"
  private def sigOf(storeDir: String) = storeDir + "_sig"

  /** The near-dup pair frame for one micro-batch, built ONLY from the
   *  maintained signature + shingle stores and the batch itself —
   *  corpus text is not an input (audited in PlanAuditSpec: the plan's
   *  only file scans are the two stores). */
  def triggerPairs(spark: SparkSession, batch: DataFrame, shingleDir: String,
                   sigDir: String, minJaccard: Double,
                   idFamily: String): DataFrame =
    Dedup.dedupMinhashIncremental(
      batch.limit(0), batch, minJaccard, idFamily,
      corpusShingles = Some(StateStores.read(spark, shingleDir, shingleSchema)),
      corpusSignatures = Some(StateStores.read(spark, sigDir, sigSchema)))

  /** One micro-batch: detect pairs, append survivors to the doc store,
   *  extend the shingle + signature stores with the survivors' rows.
   *  All three appends are O(batch). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   pairsDir: String, shingleDir: String, sigDir: String,
                   minJaccard: Double, idFamily: String): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text")
    val pairs = triggerPairs(spark, b, shingleDir, sigDir, minJaccard, idFamily)
      .cache()
    pairs.count() // read by the ledger append and the survivor chain
    val survivors = StreamingDedup.pairSurvivors(b, pairs, "doc").cache()
    StateStores.commit(
      Some(pairsDir -> pairs.withColumn("batch_id", lit(batchId))),
      storeDir -> survivors,
      shingleDir -> Dedup.shingles(survivors),
      sigDir -> Dedup.minhashSignatures(survivors, idFamily))
    survivors.unpersist()
    pairs.unpersist()
  }

  /** Offline state maintenance between stream restarts: replayed
   *  batches append byte-identical per-document rows to both stores,
   *  so compaction is distinct + rewrite ([[StateStores.swapIn]]). */
  def compactState(spark: SparkSession, storeDir: String): Unit = {
    val (shDir, sDir) = (shinglesOf(storeDir), sigOf(storeDir))
    StateStores.swapIn(spark, shDir)(tmp =>
      spark.read.schema(shingleSchema).parquet(shDir)
        .distinct().repartition(32, col("gram")).write.parquet(tmp))
    StateStores.swapIn(spark, sDir)(tmp =>
      spark.read.schema(sigSchema).parquet(sDir)
        .distinct().repartition(32).write.parquet(tmp))
  }

  /** Start the loop over a streaming documents frame (schema must
   *  include `doc_id` and `text`). The shingle/signature state stores
   *  are siblings of `storeDir`. */
  def dedupedDocStream(docs: DataFrame, storeDir: String, pairsDir: String,
                       checkpoint: String, minJaccard: Double = 0.2,
                       idFamily: String = "md5"): StreamingQuery =
    StateStores.availableNow(docs, checkpoint)((batch, batchId) =>
      processBatch(batch, batchId, storeDir, pairsDir, shinglesOf(storeDir),
        sigOf(storeDir), minJaccard, idFamily))
}
