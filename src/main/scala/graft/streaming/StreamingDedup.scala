package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.Dedup

/**
 * Streaming near-duplicate dedup of a DOCUMENT stream — the LLM
 * training-data ingest loop as one continuous query: documents arrive
 * in micro-batches, each batch is near-dup-checked against everything
 * accepted so far, survivors are appended to the corpus store, and the
 * detected pairs land in an audit store.
 *
 * Spark-native shape: `foreachBatch` turns each micro-batch into a
 * bounded frame, which [[graft.pipeline.Dedup.dedupNgramIncremental]]
 * joins against the accumulated state with the batch restriction BELOW
 * the pair join — per batch the pair work is O(batch x matching-grams),
 * never O(corpus²).
 *
 * Arrival-rate-bound triggers: the loop maintains, next to the corpus
 * document store, a SHINGLE store (`(doc_id, gram)`, the
 * [[graft.pipeline.Dedup.writeShingleStore]] layout, appended per
 * trigger) and an append-only GRAM-DF delta store (`(gram, df_cnt)`
 * per-batch counts, folded by SUM at read time). A trigger therefore
 * never re-reads corpus TEXT and never re-runs `word_ngrams` over old
 * documents — the only O(corpus) terms left are columnar store scans,
 * and the expensive stages (shingling, df counting, pair verify) are
 * all O(batch). The corpus "state" is parquet — shared with every
 * batch consumer, compactable ([[StateStores.swapIn]]), and not
 * bounded by executor state-store memory the way a
 * `flatMapGroupsWithState` vocabulary would be. Write ordering and
 * replay are [[StateStores.commit]]'s contract: survivors first, then
 * the shingle and gram-df appends, the pairs ledger alongside.
 *
 * Survivor rule (deterministic): the corpus is already accepted, so a
 * batch doc pairing with ANY corpus doc is dropped no matter which
 * side of the (doc_a < doc_b)-oriented pair it landed on — ids carry
 * no arrival order, so a batch doc CAN be the smaller `doc_a` of a
 * corpus pair. Within a batch, the smaller id of a batch-batch pair
 * survives (appears only as `doc_a` of batch-batch pairs), the larger
 * is dropped. Net: drop a batch doc iff it appears as `doc_b` of any
 * pair, or as `doc_a` of a pair whose partner is a corpus (non-batch)
 * doc. Replayed batches (at-least-once restart) re-derive the same
 * survivor set against a store that already contains it — re-appended
 * doc/shingle/df rows are duplicates of existing state, which biases
 * df UP (rarity pruning gets slightly more conservative; no pair is
 * ever invented) — and exactly-once writers can key on the batchId
 * `foreachBatch` hands over (noted, not implemented — the audit trail
 * tolerates dups).
 */
object StreamingDedup {

  private val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("gram", StringType)))
  private val gramDfSchema = StructType(Seq(
    StructField("gram", StringType), StructField("df_cnt", LongType)))

  private def shinglesOf(storeDir: String) = storeDir + "_shingles"
  private def gramDfOf(storeDir: String) = storeDir + "_gramdf"

  /** The near-dup pair frame for one micro-batch, built ONLY from the
   *  maintained shingle/gram-df stores + the batch itself — corpus
   *  text is not an input (audited in PlanAuditSpec: the plan's only
   *  file scans are the two stores). Exposed for testing; the
   *  streaming loop calls it per trigger. */
  def triggerPairs(spark: SparkSession, batch: DataFrame, shingleDir: String,
                   gramDfDir: String, maxDf: Long, minJaccard: Double): DataFrame =
    Dedup.dedupNgramIncremental(
      batch.limit(0), batch, maxDf, minJaccard,
      corpusShingles = Some(StateStores.read(spark, shingleDir, shingleSchema)),
      corpusGramDf = Some(StateStores.read(spark, gramDfDir, gramDfSchema)))

  /** The survivor rule (see the header) of a batch keyed by `<key>_id`
   *  against its (`<key>_a` < `<key>_b`)-oriented pairs: `<key>_b` of
   *  any pair drops; `<key>_a` drops only when its partner is a
   *  corpus (non-batch) row. Shared by every pair-emitting loop. */
  private[streaming] def pairSurvivors(batch: DataFrame, pairs: DataFrame,
                                       key: String): DataFrame = {
    val (id, a, b) = (s"${key}_id", s"${key}_a", s"${key}_b")
    val dropAsA = pairs
      .join(batch.select(col(id).as(b)), Seq(b), "left_anti")
      .select(col(a).as(id))
    val dupIds = pairs.select(col(b).as(id)).union(dropAsA).distinct()
    batch.join(dupIds, Seq(id), "left_anti")
  }

  /** One micro-batch of the dedup loop: detect pairs, append survivors
   *  to the doc store, and advance the shingle + gram-df stores with
   *  the batch's contribution. All three appends are O(batch). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   pairsDir: String, shingleDir: String, gramDfDir: String,
                   maxDf: Long, minJaccard: Double): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text")
    val pairs = triggerPairs(spark, b, shingleDir, gramDfDir, maxDf, minJaccard)
      .cache()
    pairs.count() // read by the ledger append and the survivor chain
    val survivors = pairSurvivors(b, pairs, "doc").cache()
    // the survivors' shingles extend the shingle store, and their
    // per-gram counts land as an append-only df delta (folded by SUM
    // at read time — no store rewrite); both appends read this cache
    val survivorSh = Dedup.shingles(survivors).cache()
    survivorSh.count()
    StateStores.commit(
      Some(pairsDir -> pairs.withColumn("batch_id", lit(batchId))),
      storeDir -> survivors,
      shingleDir -> survivorSh,
      gramDfDir -> survivorSh.groupBy("gram").agg(count(lit(1)).as("df_cnt")))
    survivorSh.unpersist()
    survivors.unpersist()
    pairs.unpersist()
  }

  /** Offline state maintenance: after many triggers the gram-df delta
   *  store holds one small file set per batch and the shingle store
   *  fragments the same way. Fold the df deltas to ONE row per gram
   *  and rewrite both state stores compacted ([[StateStores.swapIn]]).
   *  Run it between stream restarts — semantics are unchanged because
   *  the SUM-fold is exactly what every read does anyway. */
  def compactState(spark: SparkSession, storeDir: String): Unit = {
    val (shDir, dfDir) = (shinglesOf(storeDir), gramDfOf(storeDir))
    // sortWithinPartitions: tight per-row-group gram min/max, so the
    // trigger's pushed-down rare-gram In predicate (dedupNgram
    // Incremental's r17 shape) row-group-skips the non-matching bulk
    // of a compacted store.
    StateStores.swapIn(spark, shDir)(tmp =>
      spark.read.schema(shingleSchema).parquet(shDir)
        .repartition(32, col("gram"))
        .sortWithinPartitions("gram")
        .write.parquet(tmp))
    StateStores.swapIn(spark, dfDir)(tmp =>
      spark.read.schema(gramDfSchema).parquet(dfDir)
        .groupBy("gram").agg(sum("df_cnt").as("df_cnt"))
        .repartition(32)
        .write.parquet(tmp))
  }

  /** Start the dedup loop over a streaming documents frame (schema
   *  must include `doc_id` and `text`). `storeDir` accumulates
   *  surviving documents; `pairsDir` the verified near-dup pairs with
   *  their batch id; the shingle/gram-df state stores are siblings of
   *  `storeDir`. */
  def dedupedDocStream(docs: DataFrame, storeDir: String, pairsDir: String,
                       checkpoint: String, maxDf: Long = 5L,
                       minJaccard: Double = 0.2): StreamingQuery =
    StateStores.availableNow(docs, checkpoint)((batch, batchId) =>
      processBatch(batch, batchId, storeDir, pairsDir, shinglesOf(storeDir),
        gramDfOf(storeDir), maxDf, minJaccard))
}
