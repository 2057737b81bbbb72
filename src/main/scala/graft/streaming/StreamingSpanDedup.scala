package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.TextAnalysis

/**
 * Streaming repeated-SPAN curation — the first NON-PAIR member of the
 * streaming dedup family ([[StreamingDedup]] n-gram Jaccard,
 * [[StreamingExactDedup]] verbatim, [[StreamingSimhashDedup]] /
 * [[StreamingMinhashDedup]] sketches, [[StreamingEmbeddingDedup]]
 * vectors — all of which emit PAIRS): each micro-batch is
 * span-accounted ([[graft.pipeline.TextAnalysis.spanDedupIncremental]],
 * the Lee et al. 2022 verbatim-overlap extent measure) against a
 * maintained `(gram, cnt)` occurrence store, docs whose
 * duplicated-token ratio reaches `maxDupRatio` are rejected as
 * mostly-verbatim, and the survivors' own gram counts advance the
 * store — so later arrivals see them as corpus.
 *
 * State = ONE append-only `(gram, cnt)` delta store
 * (`<store>_gramcnt`), folded by SUM at read — the
 * [[StreamingDedup]] gram-df discipline, but over occurrence counts
 * (multiplicity kept: within-doc self-repetition is duplication under
 * the span measure). A trigger's expensive stages (shingling, count
 * lookup, island merge) are all O(batch); the only O(corpus) term is
 * the columnar store scan, and corpus TEXT is never re-read
 * (plan-audited like every family member).
 *
 * Write ordering is [[StateStores.commit]]'s: survivors first, then the
 * gram-count deltas, the stats ledger alongside.
 * Replay tolerance (at-least-once restarts): re-appended count deltas
 * bias gram counts UP, which can only mark MORE batch positions as
 * duplicated — rejection gets conservative, never a false "unique";
 * the stats audit trail tolerates duplicate rows keyed by `batch_id`.
 * Exactly-once writers can key on the `foreachBatch` batchId (noted,
 * not implemented — same contract as [[StreamingDedup]]).
 */
object StreamingSpanDedup {

  private val gramCntSchema = StructType(Seq(
    StructField("gram", StringType), StructField("cnt", LongType)))

  private def gramCntOf(storeDir: String) = storeDir + "_gramcnt"

  /** The per-doc span-stats frame for one micro-batch, built ONLY
   *  from the maintained gram-count store + the batch itself — corpus
   *  text is not an input (audited in PlanAuditSpec). Exposed for
   *  testing; the streaming loop calls it per trigger. */
  def triggerStats(spark: SparkSession, batch: DataFrame,
                   gramCntDir: String, k: Int): DataFrame =
    TextAnalysis.spanDedupIncremental(
      StateStores.read(spark, gramCntDir, gramCntSchema), batch, k)

  /** One micro-batch: span-account, persist the per-doc stats ledger,
   *  reject mostly-verbatim docs, append survivors + their gram-count
   *  deltas. All appends are O(batch). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   statsDir: String, gramCntDir: String,
                   k: Int, maxDupRatio: Double): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text")
    val stats = triggerStats(spark, b, gramCntDir, k).cache()
    stats.count() // read by the ledger append and the survivor chain
    val rejected = stats.filter(col("dup_ratio") >= maxDupRatio)
      .select("doc_id")
    val survivors = b.join(rejected, Seq("doc_id"), "left_anti").cache()
    StateStores.commit(
      Some(statsDir -> stats.withColumn("batch_id", lit(batchId))),
      storeDir -> survivors,
      gramCntDir -> TextAnalysis.spanGramCounts(survivors, k))
    survivors.unpersist()
    stats.unpersist()
  }

  /** Offline state maintenance between stream restarts: fold the
   *  count deltas to one row per gram and rewrite compacted
   *  ([[StateStores.swapIn]]) — semantics unchanged because the
   *  SUM-fold is what every read does anyway. */
  def compactState(spark: SparkSession, storeDir: String): Unit = {
    val dir = gramCntOf(storeDir)
    StateStores.swapIn(spark, dir)(tmp =>
      spark.read.schema(gramCntSchema).parquet(dir)
        .groupBy("gram").agg(sum("cnt").as("cnt"))
        .repartition(32)
        .write.parquet(tmp))
  }

  /** Start the loop over a streaming documents frame (schema must
   *  include `doc_id` and `text`). `storeDir` accumulates accepted
   *  documents; `statsDir` the per-doc span ledger with batch ids;
   *  the gram-count state store is a sibling of `storeDir`. */
  def curatedDocStream(docs: DataFrame, storeDir: String, statsDir: String,
                       checkpoint: String, k: Int = 5,
                       maxDupRatio: Double = 0.5): StreamingQuery =
    StateStores.availableNow(docs, checkpoint)((batch, batchId) =>
      processBatch(batch, batchId, storeDir, statsDir, gramCntOf(storeDir),
        k, maxDupRatio))
}
