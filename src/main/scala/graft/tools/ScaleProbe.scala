package graft.tools

/** Dev-only scale probe for the IVF-bucketed ANN family: measures
  * knnGraph / semanticClusters on a stress corpus (tools/make_sf1.py)
  * at the harness default K=32 centroids vs the sqrt(N) sizing the
  * scaladoc prescribes. Candidate pairs in an IVF bucket join are
  * ~N^2/K, so fixed K turns 10x data into ~100x/K work — K must grow
  * with the corpus (the classic IVF sqrt(N) rule, Jegou et al. 2011). */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val spark = graft.DevSession.local("WARN")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val sqrtK = math.max(32, math.sqrt(n.toDouble).toInt)
    def time(tag: String)(f: => Unit): Unit = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime(); f
      println(f"[probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    println(s"[probe] n=$n sqrtK=$sqrtK")
    for (_ <- 1 to 2) {
      time("knn_graph K=32")(
        graft.pipeline.Embeddings.knnGraph(emb, numCentroids = 32)
          .write.format("noop").mode("overwrite").save())
      time(s"knn_graph K=$sqrtK")(
        graft.pipeline.Embeddings.knnGraph(emb, numCentroids = sqrtK)
          .write.format("noop").mode("overwrite").save())
      time("semantic_clusters K=32")(
        graft.pipeline.Embeddings.semanticClusters(emb, numCentroids = 32)
          .write.format("noop").mode("overwrite").save())
      time(s"semantic_clusters K=$sqrtK")(
        graft.pipeline.Embeddings.semanticClusters(emb, numCentroids = sqrtK)
          .write.format("noop").mode("overwrite").save())
      // the round-10 LIBRARY DEFAULT (AutoCentroids = sqrt-N sizing,
      // resolved from one count over the quantized frame) — the
      // number that answers "does the default survive a scale-up"
      time("knn_graph K=auto-default")(
        graft.pipeline.Embeddings.knnGraph(emb)
          .write.format("noop").mode("overwrite").save())
      time("semantic_clusters K=auto-default")(
        graft.pipeline.Embeddings.semanticClusters(emb)
          .write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
