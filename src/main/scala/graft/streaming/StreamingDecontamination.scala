package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.Decontamination

/**
 * Streaming benchmark DECONTAMINATION gate — the cheapest-state member
 * of the streaming curation family, because its state never grows at
 * all: the benchmark shingle store
 * ([[graft.pipeline.Dedup.writeShingleStore]] over the eval set) is
 * STATIC. Each micro-batch shingles ONLY its own documents, joins them
 * against the broadcast benchmark shingles
 * ([[graft.pipeline.Decontamination.benchmarkOverlap]] — benchmark-side
 * containment, so a short eval question quoted inside a long page still
 * flags), appends the flagged (doc, benchmark) pairs to an audit
 * ledger, and admits only clean documents to the corpus store.
 *
 * This is the gate an ingest pipeline runs ALONGSIDE the exact/near-dup
 * gates ([[StreamingExactDedup]] first, then this, then a near-dup
 * member): contamination is independent of duplication — a document can
 * be corpus-unique yet carry a benchmark answer verbatim.
 *
 * Per-trigger cost is O(batch): the benchmark side is MBs against a
 * TB-scale stream, so it broadcasts; the batch's shingle frame never
 * shuffles for the join (the batch-side partial agg collapses to
 * (doc, bench) cardinality). Corpus text is NEVER read by a trigger —
 * the only file scan in the trigger plan is the benchmark shingle
 * store (plan-audited in StreamingIngestSpec).
 *
 * Replay tolerance: flagging is a pure function of (batch, static
 * benchmark), so re-run batches produce byte-identical verdicts;
 * re-appended survivors/ledger rows are the same at-least-once
 * tolerance every family member documents, and the ledger keys rows by
 * `batch_id` for exactly-once-minded consumers.
 */
object StreamingDecontamination {

  private val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("gram", StringType)))

  /** The flagged (doc_id, bench_id, inter_n, bench_n, overlap) frame
   *  for one micro-batch, built ONLY from the static benchmark shingle
   *  store + the batch itself. Exposed for testing; the streaming loop
   *  calls it per trigger. */
  def triggerOverlap(spark: SparkSession, batch: DataFrame,
                     benchShingleDir: String,
                     minOverlap: Double): DataFrame =
    Decontamination.benchmarkOverlap(
      batch, batch.limit(0), minOverlap,
      precomputedBenchShingles =
        Some(StateStores.read(spark, benchShingleDir, shingleSchema)))

  /** One micro-batch: flag, persist the contamination ledger, admit
   *  only clean docs. All work is O(batch); no state advances. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   ledgerDir: String, benchShingleDir: String,
                   minOverlap: Double): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text")
    val flagged =
      triggerOverlap(spark, b, benchShingleDir, minOverlap).cache()
    flagged.count() // read by both the ledger and the admitted-doc append
    StateStores.commit(
      Some(ledgerDir -> flagged.withColumn("batch_id", lit(batchId))),
      storeDir -> b.join(flagged.select("doc_id").distinct(),
        Seq("doc_id"), "left_anti"))
    flagged.unpersist()
  }

  /** Start the gate over a streaming documents frame (schema must
   *  include `doc_id` and `text`). `benchShingleDir` is a
   *  [[graft.pipeline.Dedup.writeShingleStore]] output over the
   *  benchmark/eval documents; `storeDir` accumulates admitted
   *  documents; `ledgerDir` the per-batch contamination audit. */
  def cleanDocStream(docs: DataFrame, benchShingleDir: String,
                     storeDir: String, ledgerDir: String,
                     checkpoint: String,
                     minOverlap: Double = 0.3): StreamingQuery =
    StateStores.availableNow(docs, checkpoint)((batch, batchId) =>
      processBatch(batch, batchId, storeDir, ledgerDir, benchShingleDir,
        minOverlap))
}
