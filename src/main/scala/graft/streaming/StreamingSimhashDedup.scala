package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.Dedup

/**
 * Streaming SimHash near-dup dedup — the cheapest-state member of the
 * streaming dedup family ([[StreamingDedup]] = n-gram Jaccard over a
 * shingle + gram-df store, [[StreamingExactDedup]] = verbatim copies
 * over a bloom + hash store, this = hamming-ball near-dups over ONE
 * fingerprint store). SimHash verification needs only the fingerprints
 * themselves, so the per-doc state is a single (doc_id, fp) long — no
 * shingle rows, no df deltas, nothing to fold at read time. A trigger
 * reads the fp store (8 bytes/doc — ~800 MB state per 100M docs, a
 * columnar scan, not executor memory), fingerprints the BATCH only,
 * and band-joins batch nibbles against store+batch nibbles with the
 * batch restriction below the pair join — per-trigger compute is
 * O(batch), the only O(corpus) term is the store scan.
 *
 * Survivor rule and replay tolerance (at-least-once restarts re-derive
 * the same verdicts; re-appended rows are exact duplicates, folded by
 * [[compactState]]'s distinct) are [[StreamingDedup]]'s — see its
 * header; write ordering is [[StateStores.commit]]'s.
 *
 * DEFAULT width is [[Dedup.SimBitsWide]] (64-bit fingerprints, 4
 * 16-bit bands): the sf10 probe (bench_sf10_r14) measured the 32-bit
 * width's trigger LINEAR in store size (4×256 band keys saturate —
 * 58.7 s vs 6.3 s wide at a 480k-doc store), so the maintained-store
 * surface must not ship the cliff as its default. The batch
 * `dedup_simhash*` entrypoints keep the 32-bit default (their SQL
 * oracles pin that width); a store written at one width must be read
 * at the same width end-to-end — pass `fpBits = Dedup.SimBits`
 * explicitly to keep operating a legacy 32-bit store.
 */
object StreamingSimhashDedup {

  private val fpSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("fp", LongType)))

  private def fpOf(storeDir: String) = storeDir + "_fp"

  /** The near-dup pair frame for one micro-batch, built ONLY from the
   *  maintained fingerprint store + the batch itself — corpus text is
   *  not an input (audited in PlanAuditSpec: the plan's only file scan
   *  is the fp store). */
  def triggerPairs(spark: SparkSession, batch: DataFrame, fpDir: String,
                   maxHamming: Int, idFamily: String,
                   fpBits: Int = Dedup.SimBitsWide,
                   batchFingerprints: Option[Dedup.TaggedFingerprints] = None): DataFrame =
    Dedup.dedupSimhashIncremental(
      batch.limit(0), batch, maxHamming, idFamily,
      corpusFingerprints = Some(StateStores.read(spark, fpDir, fpSchema)),
      fpBits = fpBits, batchFingerprints = batchFingerprints)

  /** One micro-batch: detect pairs, append survivors to the doc store,
   *  append the survivors' fingerprints to the fp store. Both appends
   *  are O(batch). `fpBits` = [[Dedup.SimBitsWide]] is the corpus-scale
   *  setting (16-bit bands keep band-bucket occupancy flat — the
   *  32-bit default's trigger cost grows linearly with the store,
   *  measured in bench_sf10_r14); the store must be written with the
   *  SAME width end-to-end. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   pairsDir: String, fpDir: String,
                   maxHamming: Int, idFamily: String,
                   fpBits: Int = Dedup.SimBitsWide): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text")
    // r16: ONE fingerprint pass per trigger — the probe and the fp
    // store append previously each ran the batch's shingle+vote pass
    // from text; the shared frame is delta-sized and dropped below.
    val batchFp = Dedup.simhashFingerprints(b, idFamily, fpBits).cache()
    val pairs = triggerPairs(spark, b, fpDir, maxHamming, idFamily, fpBits,
        batchFingerprints =
          Some(Dedup.TaggedFingerprints(batchFp, idFamily, fpBits)))
      .cache()
    pairs.count() // read by the ledger append and the survivor chain
    val survivors = StreamingDedup.pairSurvivors(b, pairs, "doc").cache()
    StateStores.commit(
      Some(pairsDir -> pairs.withColumn("batch_id", lit(batchId))),
      storeDir -> survivors,
      // survivor fps = the shared batch fp frame restricted to
      // survivor ids (fingerprints are per-doc deterministic —
      // identical rows to re-deriving them from survivor text)
      fpDir -> batchFp.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"))
    survivors.unpersist()
    pairs.unpersist()
    batchFp.unpersist()
  }

  /** Offline state maintenance between stream restarts: replayed
   *  batches append byte-identical (doc_id, fp) rows, so compaction is
   *  a plain distinct + rewrite ([[StateStores.swapIn]]). */
  def compactState(spark: SparkSession, storeDir: String): Unit = {
    val dir = fpOf(storeDir)
    StateStores.swapIn(spark, dir)(tmp =>
      spark.read.schema(fpSchema).parquet(dir)
        .distinct().repartition(32)
        .write.parquet(tmp))
  }

  /** Start the loop over a streaming documents frame (schema must
   *  include `doc_id` and `text`). The fp state store is a sibling of
   *  `storeDir`. */
  def dedupedDocStream(docs: DataFrame, storeDir: String, pairsDir: String,
                       checkpoint: String, maxHamming: Int = 3,
                       idFamily: String = "md5",
                       fpBits: Int = Dedup.SimBitsWide): StreamingQuery =
    StateStores.availableNow(docs, checkpoint)((batch, batchId) =>
      processBatch(batch, batchId, storeDir, pairsDir, fpOf(storeDir),
        maxHamming, idFamily, fpBits))
}
