package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.pipeline.{Clustering, Dedup}

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
 * label that CHANGED or appeared, stamped with the batch id. A batch
 * within [[Dedup.LocalTriggerMax]] pairs runs the bounded-trigger
 * kernel (see [[processPairs]]): two batch-keyed store probes
 * ([[StateStores.Store]]: one parquet-reader job each, no query), the
 * fold on the driver, one driver-written delta file, no write job —
 * three jobs with the pairs read ([[StateStores.readBatch]]), and no
 * Dataset action.
 * Any other batch — more pairs than that, or changed clusters holding
 * more stored rows than that — runs the distributed fold
 * ([[processPairsDistributed]]).
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
   *  A batch of at most `localMax` pairs ([[Dedup.LocalTriggerMax]])
   *  runs the bounded-trigger kernel: the pairs are read once
   *  ([[StateStores.readBatch]]; a negative `localMax` reads nothing) and
   *  the label store is probed exactly twice at batch keys by its file
   *  probe ([[StateStores.Store]] — no query, and no full-store
   *  `max_by` fold ever runs in a trigger), each probe's rows folded
   *  latest-batch-wins on the driver, with no exchange:
   *
   *  1. endpoint probe — the batch endpoints' current labels; the batch
   *     pairs CONTRACT to them, and components run as a driver
   *     union-find (min-id root = new label) over edges bounded by the
   *     ARRIVING batch, never the corpus;
   *  2. member probe — keyed on the labels the union-find CHANGED, it
   *     folds those clusters' members straight to their current label.
   *     Probing by label is exact, not heuristic: a store label that is
   *     current for ONE member is current for the WHOLE component
   *     (labels are component minima; components never split, so a
   *     superseded label never recurs), so the fold over label-matched
   *     rows always sees each member's latest row.
   *
   *  The delta (changed members, then new endpoints) is ONE
   *  driver-written file ([[StateStores.writeRows]]); untouched
   *  clusters match neither probe and contribute no rows. The member
   *  probe is the one collect the batch does not bound — one pair can
   *  bridge a cluster of millions — so it collects at most `localMax`
   *  rows ([[StateStores.Store.probeRowsWithin]]).
   *
   *  Every other case runs [[processPairsDistributed]]: a batch past
   *  `localMax` pairs (or a negative `localMax`), and a batch whose
   *  changed clusters hold more than `localMax` stored rows — the
   *  bounded kernel has written nothing when it finds that out. So the
   *  fold has two paths, bounded and distributed, one delta contract. */
  def processPairs(batchPairs: DataFrame, batchId: Long,
                   labelDir: String, localMax: Int = Dedup.LocalTriggerMax): Unit = {
    val spark = batchPairs.sparkSession
    val pairs = StateStores.readBatch(
        batchPairs.select(col("doc_a").cast("long"), col("doc_b").cast("long")),
        PairRows, localMax)
      .getOrElse { processPairsDistributed(batchPairs, batchId, labelDir); return }
    val store = StateStores.Store(spark, labelDir, labelSchema)
    val endIds = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val endLabels = latestLabels(store.probeRows("doc_id", endIds.toSeq))
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
      .map((l: Long) => l -> find(l)).filter { case (o, n) => o != n }.toMap
    val deltaNew = endIds.filterNot(endLabels.contains).sorted
      .map(d => Row(d, find(d), batchId))
    // A no-op trigger (every endpoint already co-clustered: no new
    // ids, no label change) writes NOTHING — both emptiness checks
    // are driver-side values, so the skip is free, and it stops
    // empty part files from growing the store's file count (and the
    // two O(state) probe scans above) until compactState runs.
    if (deltaNew.isEmpty && changed.isEmpty) return
    // The changed clusters' members are bounded by their size, not by
    // the batch: past `localMax` stored rows nothing is written yet,
    // so the whole batch folds distributed instead.
    store.probeRowsWithin("label", changed.keys.toSeq, localMax) match {
      case Some(members) =>
        val deltaPrior = latestLabels(members).toSeq.sorted
          .map { case (d, l) => Row(d, changed(l), batchId) }
        StateStores.writeRows(spark, labelDir, deltaPrior ++ deltaNew, labelSchema)
      case None => processPairsDistributed(batchPairs, batchId, labelDir)
    }
  }

  /** A batch row `(doc_a, doc_b)` as a pair, weighed as one. */
  private object PairRows extends StateStores.TaskRows[(Long, Long)] {
    def apply(row: InternalRow): (Long, Long) =
      (StateStores.longAt(row, 0), StateStores.longAt(row, 1))
  }

  /** The latest-batch-wins fold (`max_by(label, batch_id)` per doc) of
   *  label-store rows, on the driver. */
  private def latestLabels(rows: Array[Row]): Map[Long, Long] =
    rows.filterNot(_.anyNull).groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.maxBy(_.getLong(2)).getLong(1) }

  /** Distributed fallback for a batch past [[processPairs]]'s
   *  `localMax` bound (in pairs or in changed-cluster members): the
   *  three-probe shape (endpoint fold → touched-cluster members →
   *  touched fold) feeding the distributed incremental component
   *  fold. Same delta, same store contract. Both caches are released
   *  whether or not the store read and the append succeed. */
  private def processPairsDistributed(batchPairs: DataFrame, batchId: Long,
                                      labelDir: String): Unit = {
    val spark = batchPairs.sparkSession
    val store = StateStores.read(spark, labelDir, labelSchema)
    val pairs = batchPairs.select("doc_a", "doc_b").cache()
    try {
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
      try {
        val next = Clustering.dedupClustersIncremental(prior, pairs)
          .select(col("doc_id"), col("cluster_id").as("label"))
        val delta = next.join(prior.withColumnRenamed("label", "old_label"),
            Seq("doc_id"), "left")
          .filter(col("old_label").isNull || col("old_label") =!= col("label"))
          .select(col("doc_id"), col("label"), lit(batchId).as("batch_id"))
        delta.write.mode("append").parquet(labelDir)
      } finally prior.unpersist()
    } finally pairs.unpersist()
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
