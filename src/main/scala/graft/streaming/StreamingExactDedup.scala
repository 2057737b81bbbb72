package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.pipeline.Dedup

/**
 * Streaming EXACT dedup of a document stream — the verbatim-copy twin
 * of [[StreamingDedup]]'s near-dup loop, and the cheaper filter an
 * ingest pipeline runs FIRST (most web-crawl duplication is exact;
 * shingling money is better spent on what survives this gate).
 *
 * State, like the near-dup loop, is parquet — two append-only stores
 * next to the accepted-document store:
 *  - a HASH store `(doc_id, content_hash)`, one row per accepted doc
 *    (count-folded at read by [[Dedup.dedupExactIncremental]]);
 *  - a BLOOM-WORD delta store `(word_idx, word)` in
 *    [[Dedup.bloomWords]] layout, bit_or-folded at read.
 *
 * Per trigger: the batch probes the folded bloom in-row, only
 * bloom-positive docs reach the hash-store verify join, batch-internal
 * copies collapse to their smallest doc_id, and the three appends
 * (docs, hashes, delta words) are all O(batch). Corpus TEXT is never
 * an input to a trigger — the only corpus-sized terms are columnar
 * scans of the two state stores, and the bloom store stays <= m/64
 * rows FOREVER (appended deltas OR into the same fixed bit space).
 * A batch within [[Dedup.LocalTriggerMax]] probe rows (docs x probes)
 * runs that logic on the driver: read once ([[StateStores.readBatch]],
 * hashed in its tasks by `md5` and [[Dedup.bloomBits]]), one value per
 * doc, it probes the bloom store at its word
 * indexes and the hash store at its bloom-positive hashes (one
 * parquet-reader job each, [[StateStores.Store]], no query), and every
 * append is one file the driver writes ([[StateStores.Rows]]), with no
 * job — at most three jobs (the batch read, none for a `LocalRelation`
 * batch, and the two probes), no Dataset action; a larger batch runs
 * the distributed plan. Both write the
 * same rows.
 *
 * Write ordering is [[StateStores.commit]]'s: the doc append commits
 * before the hash and bloom appends start. A replayed batch
 * (at-least-once restart) whose hash and bloom appends both committed
 * flags itself as a duplicate of its own earlier append and appends
 * nothing — its documents are already stored. One whose state commit
 * was cut short re-admits the same survivors: duplicate doc rows,
 * already-set bloom bits and extra hash rows that bias
 * `n_corpus_copies` up, never a false survivor and never a lost doc.
 */
object StreamingExactDedup {

  private val hashSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("content_hash", StringType)))
  private val wordSchema = StructType(Seq(
    StructField("word_idx", IntegerType), StructField("word", LongType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def hashesOf(storeDir: String) = storeDir + "_hashes"
  private def bloomOf(storeDir: String) = storeDir + "_bloom"

  /** One micro-batch's dup verdict, built ONLY from the two state
   *  stores + the batch (exposed for testing and the store audits):
   *  (doc_id, is_dup, n_corpus_copies) per batch doc. A batch within
   *  `localMax` ([[Dedup.dedupExactIncremental]]'s plan bound) probes
   *  the stores by file ([[StateStores.Store]]); a larger one runs
   *  [[Dedup.dedupExactIncremental]]'s distributed plan over them. */
  def triggerFlags(spark: SparkSession, batch: DataFrame, hashDir: String,
                   wordsDir: String, mBits: Int, probes: Int,
                   localMax: Int = Dedup.LocalTriggerMax): DataFrame =
    Dedup.hashedBatch(batch, mBits, probes, localMax) match {
      case Some(docs) =>
        Dedup.exactFlags(spark, copies(spark, docs, hashDir, wordsDir, probes))
      case None => Dedup.dedupExactIncremental(
        StateStores.read(spark, wordsDir, wordSchema),
        StateStores.read(spark, hashDir, hashSchema), batch, mBits, probes,
        localMax = -1)
    }

  /** [[Dedup.exactCopies]] over the two stores' file probes. */
  private def copies(spark: SparkSession, docs: Seq[Dedup.HashedDoc],
                     hashDir: String, wordsDir: String, probes: Int) =
    Dedup.exactCopies(StateStores.Store(spark, wordsDir, wordSchema),
      StateStores.Store(spark, hashDir, hashSchema).select("content_hash"),
      docs, probes)

  /** One micro-batch of the loop: flag corpus dups, collapse
   *  batch-internal copies (smallest doc_id wins — the
   *  [[Dedup.dedupExact]] rule applied batch-locally), append
   *  survivors + their state contributions. A batch within `localMax`
   *  ([[Dedup.LocalTriggerMax]]) runs the bounded plan; a larger one
   *  the distributed plan. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   hashDir: String, wordsDir: String,
                   mBits: Int, probes: Int,
                   localMax: Int = Dedup.LocalTriggerMax): Unit = {
    val b = batch.select("doc_id", "text")
    Dedup.hashedBatch(b, mBits, probes, localMax) match {
      case Some(docs) => processBounded(docs, b.sparkSession, storeDir,
        hashDir, wordsDir, probes)
      case None => processDistributed(b, storeDir, hashDir, wordsDir, mBits,
        probes)
    }
  }

  /** The bounded trigger: the fresh docs are the copy counts'
   *  unverified rows ([[Dedup.exactCopies]]; a verified count is at
   *  least one, so exactly the rows the verdict flags `is_dup` = 0),
   *  taken on the driver without a query; the in-batch collapse and the
   *  bloom delta run on the driver over the collected batch (its bits
   *  are the [[Dedup.bloomBits]] that [[Dedup.bloomWords]] folds), and the
   *  three appends are driver-written files — the batch read (none
   *  for a `LocalRelation` batch) and the two store probes are its only
   *  jobs. */
  private def processBounded(docs: Seq[Dedup.HashedDoc], spark: SparkSession,
                             storeDir: String, hashDir: String,
                             wordsDir: String, probes: Int): Unit = {
    val fresh = copies(spark, docs, hashDir, wordsDir, probes)
      .collect { case (id, None) => id }.groupMapReduce(identity)(_ => 1)(_ + _)
    val survivors = docs.flatMap(d => Seq.fill(fresh.getOrElse(d.id, 0))(d))
      .groupBy(d => Option(d.hash)).values.map(_.minBy(_.id)).toSeq
    val words = survivors.flatMap(_.bits).groupMapReduce(_._1)(_._2)(_ | _)
    StateStores.commit(None,
      storeDir -> StateStores.Rows(spark,
        survivors.map(d => Row(d.id, d.text)), docSchema),
      hashDir -> StateStores.Rows(spark,
        survivors.map(d => Row(d.id, d.hash)), hashSchema),
      wordsDir -> StateStores.Rows(spark,
        words.toSeq.map { case (w, bits) => Row(w, bits) }, wordSchema))
  }

  /** The distributed trigger, for batches over the bound. */
  private def processDistributed(b: DataFrame, storeDir: String,
                                 hashDir: String, wordsDir: String,
                                 mBits: Int, probes: Int): Unit = {
    val flags = triggerFlags(b.sparkSession, b, hashDir, wordsDir, mBits,
      probes, localMax = -1)
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    val survivors = b
      .join(flags.filter(col("is_dup") === 0L).select("doc_id"), "doc_id")
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("text"), col("content_hash"))
      .cache()
    StateStores.commit(None,
      storeDir -> survivors.select("doc_id", "text"),
      hashDir -> survivors.select("doc_id", "content_hash"),
      wordsDir -> Dedup.bloomWords(survivors, mBits, probes))
    survivors.unpersist()
    ()
  }

  /** Offline state maintenance, between stream restarts: the word
   *  deltas fold to ONE row per word_idx and the hash store
   *  repartitions by hash — same read semantics, fewer files
   *  ([[StateStores.swapIn]]). */
  def compactState(spark: SparkSession, storeDir: String): Unit = {
    val (hDir, wDir) = (hashesOf(storeDir), bloomOf(storeDir))
    StateStores.swapIn(spark, hDir)(tmp =>
      spark.read.schema(hashSchema).parquet(hDir)
        .repartition(32, col("content_hash"))
        .write.parquet(tmp))
    StateStores.swapIn(spark, wDir)(tmp =>
      spark.read.schema(wordSchema).parquet(wDir)
        .groupBy("word_idx").agg(expr("bit_or(word)").as("word"))
        .coalesce(1)
        .write.parquet(tmp))
  }

  /** Start the exact-dedup ingest loop over a streaming documents
   *  frame (`doc_id`, `text`); the state stores are siblings of
   *  `storeDir`. */
  def dedupedDocStream(docs: DataFrame, storeDir: String, checkpoint: String,
                       mBits: Int = Dedup.BloomBits,
                       probes: Int = Dedup.BloomProbes): StreamingQuery =
    StateStores.availableNow(docs, checkpoint)((batch, batchId) =>
      processBatch(batch, batchId, storeDir, hashesOf(storeDir),
        bloomOf(storeDir), mBits, probes))
}
