package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.pipeline.Clustering

/**
 * Streaming duplicate-CLUSTER maintenance — the state-folding half the
 * pair-emitting streaming members ([[StreamingDedup]],
 * [[StreamingMinhashDedup]], [[StreamingSimhashDedup]],
 * [[StreamingEmbeddingDedup]]) were missing: their triggers emit
 * batch-touching near-dup PAIRS, but survivor policy at corpus scale
 * is per connected COMPONENT ([[graft.pipeline.Clustering]]), and
 * rebuilding components from the full pair store every trigger is the
 * O(corpus)-per-trigger shape this family exists to avoid. This member
 * maintains the labeling incrementally: each trigger folds the batch's
 * pairs into the prior labels via
 * [[graft.pipeline.Clustering.dedupClustersIncremental]] — batch pairs
 * contract to prior labels, components run over the batch-sized
 * contracted edge list, old EDGES are never stored or re-read at all
 * (the label frame subsumes them) — and appends one delta row per
 * label that CHANGED or appeared, stamped with the batch id.
 *
 * State = ONE append-only `(doc_id, label, batch_id)` store folded by
 * LATEST-BATCH-WINS at read (`max_by(label, batch_id)`): the
 * composable complement of the SUM/bit_or folds the other members use
 * — labels are reassignments, not increments. Append volume per
 * trigger is bounded by |batch ∪ members of old clusters the batch
 * bridged|, not the corpus; untouched clusters contribute NO rows.
 *
 * Replay tolerance: a re-run batch recomputes the identical delta
 * (prior labels fold to the same frame — the re-appended rows are
 * byte-identical, and ties inside `max_by` carry equal labels).
 * Compaction = fold + [[StateStores.swapIn]], identical semantics
 * because the fold IS what every read does.
 */
object StreamingClusters {

  private val labelSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("label", LongType),
    StructField("batch_id", LongType)))

  /** The current labeling `(doc_id, label)`: latest-batch-wins fold
   *  over the delta store — what a trigger consumes and what readers
   *  (survivor selection, [[graft.pipeline.Clustering.clusterSizes]]-
   *  style rollups via `precomputedPairs`-free paths) should read. */
  def readLabels(spark: SparkSession, labelDir: String): DataFrame =
    StateStores.read(spark, labelDir, labelSchema)
      .groupBy("doc_id")
      .agg(expr("max_by(label, batch_id)").as("label"))

  /** Fold one micro-batch's near-dup pairs (any pair-emitting
   *  trigger's output: (doc_a, doc_b), batch-touching) into the label
   *  store. Appends ONLY changed/new labels, stamped `batchId`.
   *
   *  The fold is TOUCHED-ONLY and runs in exactly TWO passes over the
   *  delta store (the only O(state) terms — no full-store `max_by`
   *  fold ever runs in a trigger):
   *
   *  1. endpoint probe — one broadcast-semi-join scan folds the batch
   *     endpoints' current labels; the result is batch-bounded, so it
   *     collects, the batch pairs CONTRACT to those labels locally,
   *     and components run as a driver union-find
   *     ([[graft.pipeline.Clustering.connectedComponentsBounded]] —
   *     everything collected is bounded by the ARRIVING batch, never
   *     the corpus; batches past its guard fall back to the
   *     distributed incremental fold).
   *  2. member probe — one broadcast-semi-join scan keyed on the
   *     labels the union-find CHANGED folds those clusters' members
   *     straight to their current label. Probing by label is exact,
   *     not heuristic: a store label that is current for ONE member
   *     is current for the WHOLE component (labels are component
   *     minima; components never split, so a superseded label never
   *     recurs), so the fold over label-matched rows always sees each
   *     member's latest row.
   *
   *  Untouched clusters match neither probe and contribute no rows;
   *  per-trigger shuffle volume is bounded by |batch endpoints| +
   *  |members of changed clusters|. */
  def processPairs(batchPairs: DataFrame, batchId: Long,
                   labelDir: String, localMax: Int = 4000000): Unit = {
    val spark = batchPairs.sparkSession
    import spark.implicits._
    val pairs = batchPairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].take(localMax + 1)
    if (pairs.length > localMax) {
      processPairsDistributed(batchPairs, batchId, labelDir); return
    }
    val store = StateStores.read(spark, labelDir, labelSchema)
    val endIds = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val endLabels = store
      .join(broadcast(endIds.toSeq.toDF("doc_id")), "doc_id")
      .groupBy("doc_id").agg(expr("max_by(label, batch_id)").as("label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find over the contracted edges; min-id root = new label
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val ca = endLabels.getOrElse(a, a); val cb = endLabels.getOrElse(b, b)
      val ra = find(ca); val rb = find(cb)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val changed = endLabels.valuesIterator.toSet.iterator
      .map((l: Long) => l -> find(l)).filter { case (o, n) => o != n }.toSeq
    val deltaNew = endIds.filterNot(endLabels.contains)
      .map(d => (d, find(d), batchId)).toSeq
    // A no-op trigger (every endpoint already co-clustered: no new
    // ids, no label change) writes NOTHING — both emptiness checks
    // are driver-side values, so the skip is free, and it stops
    // empty part files from growing the store's file count (and the
    // two O(state) probe scans above) until compactState runs.
    if (deltaNew.isEmpty && changed.isEmpty) return
    val deltaNewDf = deltaNew.toDF("doc_id", "label", "batch_id")
    val delta = if (changed.isEmpty) deltaNewDf else {
      val changedMap = changed.toDF("label", "new_label")
      val deltaPrior = store.join(broadcast(changedMap.select("label")), "label")
        .groupBy("doc_id").agg(expr("max_by(label, batch_id)").as("label"))
        .join(broadcast(changedMap), "label")
        .select(col("doc_id"), col("new_label").as("label"),
          lit(batchId).as("batch_id"))
      deltaPrior.unionByName(deltaNewDf)
    }
    delta.write.mode("append").parquet(labelDir)
  }

  /** Distributed fallback for a batch past [[processPairs]]'s
   *  `localMax` guard: the three-probe shape (endpoint fold →
   *  touched-cluster members → touched fold) feeding the distributed
   *  incremental component fold. Same delta, same store contract. */
  private def processPairsDistributed(batchPairs: DataFrame, batchId: Long,
                                      labelDir: String): Unit = {
    val spark = batchPairs.sparkSession
    val store = StateStores.read(spark, labelDir, labelSchema)
    val pairs = batchPairs.select("doc_a", "doc_b").cache()
    val ends = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val endLabels = store.join(ends, "doc_id")
      .groupBy("doc_id").agg(expr("max_by(label, batch_id)").as("label"))
    val touchedLabelVals = endLabels.select("label").distinct()
    val memberIds = store.join(touchedLabelVals, "label")
      .select("doc_id").distinct()
    val touched = ends.union(memberIds).distinct()
    val prior = store.join(touched, "doc_id")
      .groupBy("doc_id").agg(expr("max_by(label, batch_id)").as("label"))
      .cache()
    val next = Clustering.dedupClustersIncremental(prior, pairs)
      .select(col("doc_id"), col("cluster_id").as("label"))
    val delta = next.join(prior.withColumnRenamed("label", "old_label"),
        Seq("doc_id"), "left")
      .filter(col("old_label").isNull || col("old_label") =!= col("label"))
      .select(col("doc_id"), col("label"), lit(batchId).as("batch_id"))
    delta.write.mode("append").parquet(labelDir)
    prior.unpersist()
    pairs.unpersist()
  }

  /** Offline state maintenance: fold to one row per doc and rewrite
   *  compacted ([[StateStores.swapIn]]). */
  def compactState(spark: SparkSession, labelDir: String): Unit =
    StateStores.swapIn(spark, labelDir)(tmp =>
      spark.read.schema(labelSchema).parquet(labelDir)
        .groupBy("doc_id")
        .agg(expr("max_by(label, batch_id)").as("label"),
          max("batch_id").as("batch_id"))
        .repartition(32)
        .write.parquet(tmp))
}
