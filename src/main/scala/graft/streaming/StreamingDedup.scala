package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
 * bounded frame. A batch within [[graft.pipeline.Dedup.LocalTriggerMax]]
 * shingle rows is read once ([[StateStores.readBatch]]: one job,
 * shingled in its tasks); each state store is then probed at
 * batch keys by its own file probe ([[StateStores.Store]]: one
 * parquet-reader job, no query) — the gram-df store at the batch
 * grams, the shingle store at the rare batch grams and at the
 * candidate endpoints — and the df fold, candidates, Jaccard, survivor
 * rule and deltas run on the driver
 * ([[graft.pipeline.Dedup.ngramPairsBounded]]); every append is one
 * file the driver writes ([[StateStores.Rows]]), with no job. The
 * batch read and the three probes are the trigger's four jobs, and no
 * Dataset action runs. A
 * larger batch runs the distributed plan:
 * [[graft.pipeline.Dedup.dedupNgramIncremental]] joins it against the
 * accumulated state with the batch restriction BELOW the pair join,
 * and the survivor and shingle frames it appends are cached for the
 * appends that share them. Either way the pair work is
 * O(batch x matching-grams), never O(corpus²), and both plans append
 * the same rows.
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
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def shinglesOf(storeDir: String) = storeDir + "_shingles"
  private def gramDfOf(storeDir: String) = storeDir + "_gramdf"

  /** The near-dup pair frame for one micro-batch, built ONLY from the
   *  maintained shingle/gram-df stores + the batch itself — corpus
   *  text is not an input (audited in PlanAuditSpec and
   *  BoundedTriggerSpec: the only stores read are the two state
   *  stores). Exposed for testing; the streaming loop calls it per
   *  trigger. A batch within `localMax`
   *  ([[Dedup.dedupNgramIncremental]]'s plan bound) probes the stores
   *  by file ([[StateStores.Store]]); a larger one runs
   *  [[Dedup.dedupNgramIncremental]]'s distributed plan over them. */
  def triggerPairs(spark: SparkSession, batch: DataFrame, shingleDir: String,
                   gramDfDir: String, maxDf: Long, minJaccard: Double,
                   localMax: Int = Dedup.LocalTriggerMax): DataFrame =
    Dedup.shingledBatch(batch, localMax) match {
      case Some(docs) => StateStores.local(spark,
        boundedPairs(spark, docs, shingleDir, gramDfDir, maxDf, minJaccard),
        Dedup.ngramPairSchema)
      case None => Dedup.dedupNgramIncremental(
        StateStores.read(spark, shingleDir, shingleSchema),
        StateStores.read(spark, gramDfDir, gramDfSchema), batch, maxDf,
        minJaccard, localMax = -1)
    }

  private def boundedPairs(spark: SparkSession, docs: Seq[Dedup.ShingledDoc],
                           shingleDir: String, gramDfDir: String, maxDf: Long,
                           minJaccard: Double): Seq[Row] =
    Dedup.ngramPairsBounded(spark,
      StateStores.Store(spark, shingleDir, shingleSchema),
      StateStores.Store(spark, gramDfDir, gramDfSchema), docs, maxDf, minJaccard)

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
   *  the batch's contribution. All three appends are O(batch). A batch
   *  within `localMax` ([[Dedup.LocalTriggerMax]]) runs the bounded
   *  plan; a larger one the distributed plan. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   pairsDir: String, shingleDir: String, gramDfDir: String,
                   maxDf: Long, minJaccard: Double,
                   localMax: Int = Dedup.LocalTriggerMax): Unit = {
    val b = batch.select("doc_id", "text")
    Dedup.shingledBatch(b, localMax) match {
      case Some(docs) => processBounded(docs, b.sparkSession, batchId, storeDir,
        pairsDir, shingleDir, gramDfDir, maxDf, minJaccard)
      case None => processDistributed(b, batchId, storeDir, pairsDir,
        shingleDir, gramDfDir, maxDf, minJaccard)
    }
  }

  /** The bounded trigger: the pairs are [[Dedup.ngramPairsBounded]]'s
   *  driver rows, the survivor rule and the shingle and gram-df deltas
   *  run on the driver over the batch read, and the four appends (the
   *  pairs ledger is the pairs plus `batch_id`) are driver-written
   *  files — the batch read and the three store probes are its only
   *  jobs, and no Dataset action runs. */
  private def processBounded(docs: Seq[Dedup.ShingledDoc], spark: SparkSession,
                             batchId: Long, storeDir: String, pairsDir: String,
                             shingleDir: String, gramDfDir: String,
                             maxDf: Long, minJaccard: Double): Unit = {
    val pairRows = boundedPairs(spark, docs, shingleDir, gramDfDir, maxDf, minJaccard)
    val batchIds = docs.iterator.map(_.id).toSet
    val dropped = pairRows.flatMap { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (batchIds(b)) Seq(b) else Seq(a, b)
    }.toSet
    val survivors = docs.filterNot(d => dropped(d.id))
    val gramDf = survivors.flatMap(_.grams).groupMapReduce(identity)(_ => 1L)(_ + _)
    StateStores.commit(
      Some(pairsDir -> StateStores.Rows(spark,
        pairRows.map(r => Row.fromSeq(r.toSeq :+ batchId)),
        Dedup.ngramPairSchema.add(StructField("batch_id", LongType, nullable = false)))),
      storeDir -> StateStores.Rows(spark,
        survivors.map(d => Row(d.id, d.text)), docSchema),
      shingleDir -> StateStores.Rows(spark,
        survivors.flatMap(d => d.grams.map(Row(d.id, _))), shingleSchema),
      gramDfDir -> StateStores.Rows(spark,
        gramDf.toSeq.map { case (g, n) => Row(g, n) }, gramDfSchema))
  }

  /** The distributed trigger, for batches over the bound. */
  private def processDistributed(b: DataFrame, batchId: Long, storeDir: String,
                                 pairsDir: String, shingleDir: String,
                                 gramDfDir: String, maxDf: Long,
                                 minJaccard: Double): Unit = {
    val pairs = triggerPairs(b.sparkSession, b, shingleDir, gramDfDir, maxDf,
      minJaccard, localMax = -1).cache()
    pairs.count() // read by the ledger append and the survivor chain
    // batch-sized caches, dropped after the commit: the doc append and
    // the shingle chain both read the survivors; the shingle append and
    // its per-gram df delta (folded by SUM at read time) both read the
    // survivors' shingles
    val survivors = pairSurvivors(b, pairs, "doc").cache()
    val survivorSh = Dedup.shingles(survivors).cache()
    survivorSh.count()
    StateStores.commit(
      Some(pairsDir -> pairs.withColumn("batch_id", lit(batchId))),
      storeDir -> survivors,
      shingleDir -> survivorSh,
      gramDfDir -> Dedup.gramDfDelta(survivorSh))
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
    // sortWithinPartitions: tight per-row-group gram min/max, so a
    // trigger's gram probe row-group-skips the non-matching bulk of a
    // compacted store — the store probe on its pushed-down key range
    // (StateStores.Store), the DataFrame probe and the distributed
    // plan on their pushed-down In.
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
