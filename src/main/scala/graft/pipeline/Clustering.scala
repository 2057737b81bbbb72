package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Round.r4

/**
 * Duplicate-cluster construction: the step a real training-data
 * pipeline runs AFTER near-dup pair detection. Pairwise near-dup
 * output (doc_a, doc_b) is a graph; keeping one survivor per
 * *connected component* (not per pair) is what actually removes the
 * duplicates — pair-local survivor picks can drop every copy or keep
 * two (a~b, b~c with a,c not paired).
 *
 * Algorithm: iterative min-label propagation — label(v) starts at v,
 * each round takes the min over the neighborhood, fixpoint = every
 * node labeled with the smallest doc_id in its component. Rounds =
 * component diameter; per round one shuffle keyed on doc_id.
 * `localCheckpoint` after every round truncates the lineage so the
 * plan does not grow with iterations (the classic iterative-Spark
 * failure mode).
 *
 * Scale note: near-dup graphs at 100 TB have HUGE components
 * (boilerplate cliques) but TINY diameters — cliques converge in one
 * round, chains are rare and short. For an adversarial long-chain
 * graph, [[connectedComponentsStar]] (the O(log n)-round alternating
 * large-star / small-star formulation, Kiveris et al.) drops in with
 * the same output; min-label propagation is the right default because
 * its per-round cost is one partial-aggregated groupBy — no edge-list
 * rewriting.
 *
 * The convergence check (`changed` count) is one action per round on
 * the label frame — bounded by |nodes-in-pairs|, never the corpus.
 */
object Clustering {

  /** Connected components of an undirected edge list `(doc_a, doc_b)`.
   *  Returns `(doc_id, label)` where `label` = min doc_id reachable.
   *  Only nodes appearing in at least one edge are returned (isolated
   *  docs are their own trivial cluster — callers join them back if
   *  singleton rows are wanted). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          reliable: Boolean = false): DataFrame = {
    // localCheckpoint truncates lineage but pins blocks to executors —
    // lose one and the iteration dies. `reliable = true` switches to
    // checkpoint() (HDFS-backed via spark.sparkContext.setCheckpointDir),
    // the right mode for a multi-hour 100 TB run where executor loss
    // is routine; local remains the low-latency default for dev/CI.
    def persist(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // Symmetrize once and materialize: every round re-reads this frame.
    val edges = persist(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .distinct())
    var lab = persist(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("label", col("doc_id")))
    // One propagation pass: min label over the neighborhood (partial
    // agg map-side) folded into the node's own label. Left join: a
    // node whose neighbors all have higher labels keeps its own.
    def propagate(l: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(l.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min("label").as("nmin"))
      l.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          when(col("nmin") < col("label"), 1L).otherwise(0L).as("chg"))
    }
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // TWO propagation passes per checkpoint+count: labels are
      // monotone decreasing, so "second pass changed nothing" alone
      // proves the fixpoint — halving the per-round job overhead that
      // dominates on small diameters. The changed flag rides along as
      // a column, so the convergence count is one cheap scan of the
      // just-checkpointed blocks.
      val next = persist(propagate(propagate(lab).drop("chg")))
      // coalesce: an empty pair frame (legal via precomputedPairs) sums
      // to null, which must read as converged, not crash
      changed = next.agg(coalesce(sum("chg"), lit(0L))).collect()(0).getLong(0)
      lab = next.drop("chg")
      iter += 1
    }
    require(changed == 0L,
      s"connectedComponents did not converge in $maxIter rounds " +
        "(diameter-length chain? switch to large-star/small-star)")
    lab
  }

  /** Duplicate clusters over the verified n-gram near-dup pairs: one
   *  row per clustered doc with its cluster id (min doc_id in the
   *  component), cluster size, and the survivor flag (the doc a
   *  dedup pass would keep). Docs in no near-dup pair are not listed
   *  (every unlisted doc is its own survivor).
   *
   *  Composable by construction: `precomputedPairs` accepts ANY
   *  (doc_a, doc_b) near-dup frame — minhash, simhash, embedding, a
   *  union of several, or a frame read back from a pair store — so a
   *  pipeline that already ran pair detection never recomputes it;
   *  `precomputedShingles` forwards a shared shingle store to the
   *  default n-gram pass; `reliable` forwards the checkpoint mode
   *  (see [[connectedComponents]]). */
  def dedupClusters(docs: DataFrame,
                    precomputedPairs: Option[DataFrame] = None,
                    precomputedShingles: Option[DataFrame] = None,
                    reliable: Boolean = false): DataFrame = {
    val pairs = precomputedPairs.getOrElse(
        Dedup.dedupNgram(docs, precomputedShingles = precomputedShingles))
      .select("doc_a", "doc_b")
    val comp = componentsAuto(pairs, reliable)
    val sizes = comp.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "label")
      .select(col("label").as("cluster_id"), col("doc_id"),
        col("cluster_size"),
        when(col("doc_id") === col("label"), 1L).otherwise(0L).as("is_survivor"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
   *  rounds (Kiveris et al., "Connected Components in MapReduce and
   *  Beyond", SoCC 2014) — the O(log n)-round alternative the
   *  [[connectedComponents]] header names for adversarial
   *  long-diameter graphs: min-label propagation needs
   *  diameter-many rounds (a 1000-link chain = 1000 shuffles), star
   *  contraction collapses any graph in O(log n) alternations.
   *  Per round each operation is one partial-aggregated groupBy +
   *  one join, the same per-round cost shape as propagation — the
   *  trade is MORE work per round (edge-list rewriting) for
   *  exponentially fewer rounds.
   *
   *  large-star: every neighbor v > u re-points to min(Γ⁺(u));
   *  small-star: every neighbor v ≤ u (plus u) points to min(Γ⁺(u))
   *  over the small-oriented edges. Fixpoint = star graphs centered
   *  at component minima; labels read off the final edges. Output is
   *  identical to [[connectedComponents]] (property-tested, including
   *  path graphs far beyond propagation's round budget). Convergence
   *  check: (count, xxhash64 checksum) of the canonical edge set —
   *  one cheap aggregate per round. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30,
                              reliable: Boolean = false): DataFrame = {
    def persist(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val spark = pairs.sparkSession
    var edges = persist(
      pairs.select(least(col("doc_a"), col("doc_b")).as("u"),
          greatest(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    def canonical(e: DataFrame): DataFrame =
      e.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v")).distinct()
    def checksum(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent, overflow-free under ANSI arithmetic
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var sig = checksum(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star over the symmetrized neighborhood
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star over the to-smaller orientation (v < u by canon)
      val dir = canonical(ls)
        .select(col("v").as("u"), col("u").as("v")) // u = larger end
      val sMins = dir.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val ss = dir.join(sMins, "u")
        .select(col("v").as("c"), col("m"))
        .union(dir.join(sMins, "u").select(col("u").as("c"), col("m")))
        .filter(col("c") =!= col("m"))
        .select(col("c").as("u"), col("m").as("v"))
      val next = persist(canonical(ss))
      val nextSig = checksum(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      iter += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint edges are (member, center) stars with center = component
    // min; centers label themselves
    val members = edges.select(greatest(col("u"), col("v")).as("doc_id"),
      least(col("u"), col("v")).as("label"))
    val centers = edges.select(least(col("u"), col("v")).as("doc_id"))
      .distinct().withColumn("label", col("doc_id"))
    members.union(centers).distinct()
  }

  /** Connected components for a BATCH-BOUNDED edge list: collect the
   *  edges (guarded by `localMax`) and run union-find with path
   *  compression on the driver, attaching the larger root under the
   *  smaller so the representative IS the component-min doc_id —
   *  bit-identical output to [[connectedComponents]] (one row per
   *  node appearing in at least one edge, `label` = component min).
   *
   *  Scale rationale: the INCREMENTAL cluster paths contract prior
   *  components to single nodes first, so their edge list is bounded
   *  by the arriving BATCH (pairs per trigger), never the corpus —
   *  and a distributed fixpoint over a batch-sized graph is pure
   *  scheduling overhead (measured round 9: ~6 s of sub-second AQE
   *  stage-jobs per trigger for a 1000-edge batch vs ~0 ms of
   *  union-find). Collecting batch-bounded data to the driver is the
   *  same contract every Structured Streaming sink's
   *  `foreachBatch` works under. Edges beyond `localMax` (an
   *  adversarial, not-batch-like input) fall back to the distributed
   *  [[connectedComponents]] fixpoint, same output; so do
   *  non-integral id columns (the union-find runs over primitive
   *  longs). Null endpoints are dropped — a null edge cannot join
   *  components in either engine. */
  /** CC dispatch for the BATCH cluster family (r16): pin the
   *  pair-cardinality edge frame once, then run the bounded driver
   *  union-find (≤ 4M edges — every test SF and most real corpora's
   *  verified near-dup graphs) or, above the bound / for non-integral
   *  ids, the distributed fixpoint over the SAME pinned blocks. The
   *  iterative fixpoint costs 4-8 scheduled jobs (per-round
   *  propagate + checkpoint + convergence count) even on a
   *  100-edge graph — pure scheduling floor at small scale; the
   *  union-find replaces that with one bounded `take`. Pinning first
   *  means an above-bound graph pays the probe against stored blocks,
   *  not a re-execution of the verified-pair chain. Bit-identical
   *  output by construction (min-rooted union = min-label fixpoint;
   *  property-tested). `reliable` mode skips the executor-pinned
   *  localCheckpoint (a lost executor would kill a multi-hour run)
   *  and defers to the fixpoint's own reliable checkpointing. */
  private[graft] def componentsAuto(pairs: DataFrame,
                                    reliable: Boolean = false): DataFrame =
    if (reliable) connectedComponentsBounded(pairs, reliable = true)
    else connectedComponentsBounded(pairs.localCheckpoint())

  def connectedComponentsBounded(pairs: DataFrame,
                                 localMax: Int = 4000000,
                                 reliable: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // The union-find runs over primitive longs; non-integral id
    // columns (string doc ids, decimals) route to the type-agnostic
    // distributed fixpoint instead of failing the long decode.
    val integral = Seq("doc_a", "doc_b")
      .map(n => pairs.schema(n)).forall(f => f.dataType match {
      case _: org.apache.spark.sql.types.ByteType
           | _: org.apache.spark.sql.types.ShortType
           | _: org.apache.spark.sql.types.IntegerType
           | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    if (!integral) return connectedComponents(pairs, reliable = reliable)
    val edges = pairs
      .filter(col("doc_a").isNotNull && col("doc_b").isNotNull)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].take(localMax + 1)
    if (edges.length > localMax)
      return connectedComponents(pairs, reliable = reliable)
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    edges.foreach { case (a, b) =>
      nodes(a) = (); nodes(b) = ()
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.keysIterator.map(n => (n, find(n))).toSeq.toDF("doc_id", "label")
  }

  /** Incremental duplicate clusters — fold a BATCH of new near-dup
   *  pairs into an existing labeling WITHOUT re-propagating over the
   *  old edge list (the sixth incremental family member, and the one
   *  that closes the loop: the incremental pair detectors
   *  (`dedup_*_incr`) emit exactly the batch-touching pairs this
   *  consumes). The old graph never re-enters the computation:
   *  each batch pair's endpoints CONTRACT to their prior cluster
   *  label (one join against the label frame; prior components are
   *  single nodes afterwards, so intra-cluster pairs become dropped
   *  self-loops), components run over that batch-sized contracted
   *  edge list, and the new labels map back over the prior frame with
   *  one label-keyed join. Per-call cost tracks the BATCH pair count
   *  + the label-frame joins — old edges are never read, and
   *  untouched clusters pass through the left join unchanged.
   *
   *  Exactness: a prior label is the min doc_id of a sub-component of
   *  the grown graph, so propagating minima over {prior labels} ∪
   *  {new node ids} yields exactly the grown graph's component
   *  minima — the output is BIT-IDENTICAL to [[dedupClusters]] over
   *  the full pair set (the oracle IS the full-run closure chain).
   *
   *  `priorLabels` = a [[connectedComponents]] output (doc_id, label)
   *  — or [[dedupClusters]] output reshaped; `batchPairs` = any
   *  near-dup (doc_a, doc_b) frame touching the batch. */
  def dedupClustersIncremental(priorLabels: DataFrame,
                               batchPairs: DataFrame,
                               reliable: Boolean = false): DataFrame = {
    val m = priorLabels.select("doc_id", "label")
    val contracted = batchPairs
      .join(m.select(col("doc_id").as("doc_a"), col("label").as("la")),
        Seq("doc_a"), "left")
      .join(m.select(col("doc_id").as("doc_b"), col("label").as("lb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
        coalesce(col("lb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val cc = connectedComponentsBounded(contracted, reliable = reliable)
      .select(col("doc_id").as("old_label"), col("label").as("new_label"))
    val priorMapped = m
      .join(cc, m("label") === cc("old_label"), "left")
      .select(m("doc_id"),
        coalesce(col("new_label"), m("label")).as("label"))
    val newNodes = batchPairs.select(col("doc_a").as("doc_id"))
      .union(batchPairs.select(col("doc_b").as("doc_id"))).distinct()
      .join(m, Seq("doc_id"), "left_anti")
    val newMapped = newNodes
      .join(cc, newNodes("doc_id") === cc("old_label"), "left")
      .select(newNodes("doc_id"),
        coalesce(col("new_label"), newNodes("doc_id")).as("label"))
    val comp = priorMapped.union(newMapped)
    val sizes = comp.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "label")
      .select(col("label").as("cluster_id"), col("doc_id"),
        col("cluster_size"),
        when(col("doc_id") === col("label"), 1L).otherwise(0L).as("is_survivor"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Cluster-size histogram — the shape of the duplication problem in
   *  one small frame: how many clusters of each size exist and how
   *  many docs a component-level dedup pass would remove from each
   *  bin. A corpus dominated by huge clusters has a boilerplate/
   *  mirror problem (fix the source); one dominated by pairs has
   *  organic near-dups (dedup and move on) — different remediations,
   *  distinguishable only at the histogram level. Computed from the
   *  survivor rows of [[dedupClusters]] (exactly one per cluster, each
   *  carrying its cluster_size), collapsed to size cardinality in one
   *  map-side-combining aggregation. Composable via the same
   *  `precomputedPairs` as the clusters themselves. */
  def clusterSizes(docs: DataFrame,
                   precomputedPairs: Option[DataFrame] = None,
                   precomputedShingles: Option[DataFrame] = None,
                   reliable: Boolean = false): DataFrame =
    dedupClusters(docs, precomputedPairs, precomputedShingles, reliable)
      .filter(col("is_survivor") === 1L)
      .groupBy("cluster_size").agg(
        count(lit(1)).as("n_clusters"),
        sum(col("cluster_size") - 1L).as("removable_docs"))
      .orderBy("cluster_size")

  /** DuckDB mirror: the same verified pair set (the [[Dedup.dedupNgramOracle]]
   *  CTE chain), then transitive closure as a recursive CTE —
   *  `UNION` (distinct) recursion terminates at the closure, and
   *  MIN(reachable) is exactly the propagated min label. Shared by the
   *  clusters oracle and the [[clusterSizes]] rollup. */
  /** The chain AFTER the shingle CTE: verified pairs → symmetric edges
   *  → recursive transitive closure → per-node min label (`comp`) →
   *  cluster sizes (`csize`). Factored so a composed pipeline oracle
   *  ([[Curation.curateCorpusOracle]]) can run the identical closure
   *  over a REBASED document set. */
  private[pipeline] val closureFromShingles: String = """
dfreq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df_cnt FROM shingle GROUP BY gram),
rare AS (SELECT gram FROM dfreq WHERE df_cnt <= 5),
raresh AS (SELECT s.doc_id, s.gram FROM shingle s JOIN rare r ON s.gram = r.gram),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM raresh a JOIN raresh b ON a.gram = b.gram AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM shingle a JOIN shingle b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cands c
  JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
  WHERE i.inter_n * 1.0 / (sa.n + sb.n - i.inter_n) >= 0.2),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges) t
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
csize AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id)"""

  private val clustersCteChain: String =
    "WITH RECURSIVE " + Dedup.shinglesCte.trim + "," + closureFromShingles

  val dedupClustersOracle: String = clustersCteChain + """
SELECT c.cluster_id, c.doc_id, s.cluster_size,
       CAST(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
FROM comp c JOIN csize s ON c.cluster_id = s.cluster_id
ORDER BY c.cluster_id, c.doc_id"""

  val clusterSizesOracle: String = clustersCteChain + """
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS removable_docs
FROM csize
GROUP BY cluster_size
ORDER BY cluster_size"""

  /** Duplicate-cluster SOURCE composition — the provenance cut of the
   *  cluster-size histogram: per (cluster size × distinct sources)
   *  cell, how many clusters. Single-source clusters are re-posts
   *  WITHIN a feed (fix the crawler's refetch policy); multi-source
   *  clusters are syndication/mirroring ACROSS feeds (a dedup gate is
   *  the only thing that catches them) — the split decides where
   *  dedup budget actually pays. Cost: one join of the member frame
   *  against (doc_id, source), one cluster-keyed distinct-count, one
   *  cell-cardinality rollup — all bounded by the cluster frame, no
   *  corpus text anywhere. */
  def clusterSourceMix(docs: DataFrame,
                       precomputedPairs: Option[DataFrame] = None,
                       precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val cl = dedupClusters(docs, precomputedPairs, precomputedShingles)
    cl.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        countDistinct("source").as("n_sources"))
      .groupBy("cluster_size", "n_sources")
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size", "n_sources")
  }

  val clusterSourceMixOracle: String = clustersCteChain + """,
mem AS (
  SELECT c.cluster_id, d.source
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
per AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
  FROM mem GROUP BY cluster_id)
SELECT cluster_size, n_sources, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM per GROUP BY cluster_size, n_sources
ORDER BY cluster_size, n_sources"""

  /** Survivorship POLICY selection — which copy of each duplicate
   *  cluster to keep. [[dedupClusters]]'s min-doc_id survivor is an
   *  arbitrary tiebreak; a real curation pipeline keeps the BEST
   *  copy (the longest one is usually the superset — others are
   *  truncated mirrors). Rule, all-integer so the argmax is exact
   *  under any aggregation order: most tokens, then most distinct
   *  tokens, then smallest doc_id.
   *
   *  Scale shape: the argmax is `max(struct(n_tok, n_distinct,
   *  -doc_id))` — a commutative aggregate with a map-side partial,
   *  NOT a per-cluster row_number window (which would sort every
   *  cluster's members; boilerplate clusters at 100 TB have millions
   *  of members and would straggle the window sort). One credential
   *  join keyed on doc_id + one cluster-keyed aggregation; composable
   *  via the same `precomputedPairs` as the cluster family. Output:
   *  one row per cluster with the canonical doc, its token mass, the
   *  tokens a keep-canonical dedup drops, and whether the policy
   *  disagrees with the min-id default. */
  def clusterCanonical(docs: DataFrame,
                       precomputedPairs: Option[DataFrame] = None,
                       precomputedShingles: Option[DataFrame] = None,
                       reliable: Boolean = false): DataFrame = {
    val pairs = precomputedPairs.getOrElse(
        Dedup.dedupNgram(docs, precomputedShingles = precomputedShingles))
      .select("doc_a", "doc_b")
    val comp = componentsAuto(pairs, reliable)
    val cred = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
    comp.join(cred, "doc_id")
      .groupBy(col("label").as("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        sum("n_tok").as("total_tokens"),
        max(struct(col("n_tok"), col("n_distinct"),
          (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("best.neg_id")).as("canonical_doc"),
        col("best.n_tok").as("canonical_tokens"),
        (col("total_tokens") - col("best.n_tok")).as("dropped_tokens"),
        when(-col("best.neg_id") =!= col("cluster_id"), 1L).otherwise(0L)
          .as("differs_from_minid"))
      .orderBy("cluster_id")
  }

  /** Same closure chain; the argmax is mirrored as a per-cluster
   *  ROW_NUMBER with the identical (n_tok DESC, n_distinct DESC,
   *  doc_id ASC) order — fine in SQL where the cluster cardinality is
   *  oracle-sized. */
  val clusterCanonicalOracle: String = clustersCteChain + """,
cred AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
  FROM documents),
j AS (
  SELECT c.cluster_id, c.doc_id, cr.n_tok, cr.n_distinct
  FROM comp c JOIN cred cr ON c.doc_id = cr.doc_id),
best AS (
  SELECT cluster_id, doc_id, n_tok,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
           ORDER BY n_tok DESC, n_distinct DESC, doc_id ASC) AS rn
  FROM j),
tot AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens
  FROM j GROUP BY cluster_id)
SELECT t.cluster_id, t.cluster_size,
       b.doc_id AS canonical_doc, b.n_tok AS canonical_tokens,
       t.total_tokens - b.n_tok AS dropped_tokens,
       CAST(CASE WHEN b.doc_id = t.cluster_id THEN 0 ELSE 1 END AS BIGINT) AS differs_from_minid
FROM tot t JOIN best b ON b.cluster_id = t.cluster_id AND b.rn = 1
ORDER BY t.cluster_id"""

  /** Duplicate-aware SAMPLING WEIGHTS — the soft alternative to
   *  dropping duplicates: every doc gets weight 1/|its near-dup
   *  cluster| (singletons weight 1), so a training run that samples
   *  by weight sees each CONTENT once in expectation while keeping
   *  every copy available (the standard counting-duplicates-once
   *  correction, cf. Penedo et al. 2023 §4 discussion of dedup vs
   *  reweighting). Weights are exact per-mille integers
   *  (`1000 div size` — floor div, identical cross-engine) plus an
   *  r4 double for direct use; `weighted_tokens_pm` is the doc's
   *  token mass under the weight, so `sum(weighted_tokens_pm)/1000`
   *  is the deduplicated token budget without running a single
   *  drop. Shape: the shared cluster chain (composable via
   *  `precomputedPairs` like the whole cluster family) + one
   *  doc-keyed left join; nothing beyond the CC fixpoint touches
   *  more than |docs| rows. */
  def clusterWeights(docs: DataFrame,
                     precomputedPairs: Option[DataFrame] = None,
                     precomputedShingles: Option[DataFrame] = None,
                     reliable: Boolean = false): DataFrame = {
    val pairs = precomputedPairs.getOrElse(
        Dedup.dedupNgram(docs, precomputedShingles = precomputedShingles))
      .select("doc_a", "doc_b")
    val comp = componentsAuto(pairs, reliable)
    val sizes = comp.groupBy("label").agg(count(lit(1)).as("csize"))
    val mem = comp.join(sizes, "label")
      .select(col("doc_id"), col("label"), col("csize"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(mem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        coalesce(col("csize"), lit(1L)).as("cluster_size"),
        col("n_tok"),
        expr("CAST(1000 AS BIGINT) div coalesce(csize, CAST(1 AS BIGINT))")
          .as("weight_pm"),
        r4(lit(1.0) / coalesce(col("csize"), lit(1L))).as("weight"),
        expr("n_tok * CAST(1000 AS BIGINT) div coalesce(csize, CAST(1 AS BIGINT))")
          .as("weighted_tokens_pm"))
      .orderBy("doc_id")
  }

  /** Shared closure chain + one left join per doc; the per-mille
   *  floor divisions are spelled identically. */
  val clusterWeightsOracle: String = clustersCteChain + """
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       CAST(1000 // COALESCE(s.cluster_size, 1) AS BIGINT) AS weight_pm,
       FLOOR((1.0 / COALESCE(s.cluster_size, 1)) * 10000.0 + 0.5) / 10000.0 AS weight,
       CAST(CAST(len(string_split(d.text, ' ')) AS BIGINT) * 1000
            // COALESCE(s.cluster_size, 1) AS BIGINT) AS weighted_tokens_pm
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
LEFT JOIN csize s ON c.cluster_id = s.cluster_id
ORDER BY d.doc_id"""
}
