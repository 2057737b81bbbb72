package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Property-style checks over the numeric kernels and pair generation
  * (raw ScalaCheck generators sampled with fixed seeds — the
  * scalatest bridge artifact is not on the offline classpath). */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val smallLong = Gen.chooseNum(-1000000L, 1000000L)
  private val vecGen = Gen.listOfN(8, smallLong)

  test("qdot equals the BigInt reference on random vectors") {
    for (seed <- 1L to 5L) {
      val pairs = sample(Gen.listOfN(20, Gen.zip(vecGen, vecGen)), seed)
      val df = pairs.map { case (a, b) => (a.toArray, b.toArray) }
        .toDF("a", "b").withColumn("d", expr("qdot(a, b)"))
      val got = df.collect().map(_.getAs[Long]("d")).toSeq
      val want = pairs.map { case (a, b) =>
        a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum.toLong
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("whole-signature expressions match the aggregation-path arithmetic on random token strings") {
    // random space-tokenized texts (incl. empty tokens from repeated
    // separators — the split(' ', -1) contract) pushed through BOTH
    // the native expressions and an independent reference of the
    // aggregation-path formulas
    val tokGen = Gen.oneOf(Gen.alphaLowerStr.map(_.take(4)),
      Gen.const(""), Gen.oneOf("ünï", "✓", "क्ष"))
    val textGen = Gen.chooseNum(0, 24)
      .flatMap(n => Gen.listOfN(n, tokGen).map(_.mkString(" ")))
    def polyOf(g: String): Long = graft.functions.PolyHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(g))
    for (seed <- 1L to 5L) {
      val texts = sample(Gen.listOfN(20, textGen), seed)
      val rows = texts.toDF("text").select(
        expr("simhash_fp(word_ngrams(text, 3))").as("fp"),
        expr("minhash_sig(word_ngrams(text, 3))").as("sig"),
        expr("winnow_fps(text, 3, 4)").as("wf"),
        col("text")).collect()
      for (r <- rows) {
        val text = r.getString(3)
        val toks = text.split(" ", -1)
        val gramsAll = if (toks.length < 3) Seq.empty
          else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" "))
        val grams = gramsAll.distinct
        // simhash reference
        val votes = new Array[Long](32)
        for (g <- grams; b <- 0 until 32) {
          val v = ((polyOf(g) * (37L + 101L * b) + (17L + 257L * b)) % 1000003L) % 2L
          votes(b) += (if (v == 1L) 1L else -1L)
        }
        val fpRef = (0 until 32).map(b => if (votes(b) > 0) 1L << b else 0L).sum
        assert(r.getLong(0) === fpRef, s"simhash '$text'")
        // minhash reference (null when gram-less)
        if (grams.isEmpty) assert(r.isNullAt(1), s"minhash '$text'")
        else {
          val sigRef = (0 until 16).map(j => grams.map(g =>
            (polyOf(g) * (37L + 101L * j) + (17L + 257L * j)) % 1000003L).min)
          assert(r.getSeq[Long](1) === sigRef, s"minhash '$text'")
        }
        // winnow reference: set-distinct window minima, pos order
        val g = gramsAll.length
        val wfRef = if (g < 4) Seq.empty else {
          val pk = gramsAll.zipWithIndex.map { case (s, i) => polyOf(s) * 1048576L + i }
          (0 to g - 4).map(p => pk.slice(p, p + 4).min).distinct.sortBy(_ % 1048576L)
        }
        assert(r.getSeq[Long](2) === wfRef, s"winnow '$text'")
      }
    }
  }

  test("salted bucket pairs equal plain pairs for random bucket shapes") {
    for (seed <- 1L to 5L) {
      val members = sample(Gen.listOfN(40,
        Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 30L))), seed).distinct
      val salts = (seed % 5 + 1).toInt
      val df = members.toDF("bucket", "doc_id")
      val salted = graft.pipeline.Dedup
        .saltedBucketPairs(df, Seq("bucket"), "doc_id", salts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plain = members.groupBy(_._1).values.flatMap { grp =>
        val ids = grp.map(_._2).distinct
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      assert(salted === plain, s"seed=$seed salts=$salts")
    }
  }

  test("canonical mapping is deterministic across physical layouts") {
    val c1 = graft.events.TestDataAdapter
      .canonical(spark, "/root/testdata/sf0.001")
      .agg(sum(expr("hash(app_id, event_type, event_time_us, duration_ms)")))
      .collect()(0).getLong(0)
    val c2 = graft.events.TestDataAdapter
      .canonical(spark, "/root/testdata/sf0.001")
      .repartition(13) // different layout, same result
      .agg(sum(expr("hash(app_id, event_type, event_time_us, duration_ms)")))
      .collect()(0).getLong(0)
    assert(c1 === c2)
  }

  test("asof join equals the brute-force reference on random timelines") {
    for (seed <- 1L to 5L) {
      // few keys + coarse times force boundary hits and (key, time) ties
      val rowGen = Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 20L))
      val lRows = sample(Gen.listOfN(30, rowGen), seed)
        .zipWithIndex.map { case ((k, t), i) => (s"k$k", t, i.toLong) }
      val rRows = sample(Gen.listOfN(30, rowGen), seed + 100)
        .zipWithIndex.map { case ((k, t), i) =>
          (s"k$k", t, 1000L + i, s"p$i") }
      val out = graft.operators.AsofJoin.asofJoin(
        lRows.toDF("k", "t", "id"), rRows.toDF("k", "t", "id", "p"),
        keys = Seq("k"), timeCol = "t", payload = Seq("p"), tieBreak = "id")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("p")).toMap
      val want = lRows.map { case (k, t, id) =>
        val matches = rRows.filter(r => r._1 == k && r._2 <= t)
        // latest time wins; ties on time resolve to greatest tieBreak
        id -> matches.sortBy(r => (r._2, r._3)).lastOption.map(_._4).orNull
      }.toMap
      assert(out === want, s"seed=$seed")
    }
  }

  test("connected components equal the brute-force closure on random graphs") {
    for (seed <- 1L to 5L) {
      val edges = sample(Gen.listOfN(25,
        Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L))), seed)
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val got = graft.pipeline.Clustering
        .connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute-force: repeated relabeling until fixpoint
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var lab = nodes.map(n => n -> n).toMap
      var changed = true
      while (changed) {
        changed = false
        for ((a, b) <- edges) {
          val m = math.min(lab(a), lab(b))
          if (lab(a) != m) { lab += a -> m; changed = true }
          if (lab(b) != m) { lab += b -> m; changed = true }
        }
      }
      assert(got === lab, s"seed=$seed")
    }
  }

  test("star-contraction CC equals propagation CC on random graphs and a long chain") {
    import graft.pipeline.Clustering
    for (seed <- 1L to 5L) {
      val edges = sample(Gen.listOfN(30,
        Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L))), seed)
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val prop = Clustering.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Clustering.connectedComponentsStar(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === prop, s"seed=$seed")
    }
    // a 60-node path: diameter 59 — propagation's worst case (its
    // doubled passes need ~15 checkpointed rounds); star contraction
    // must converge inside its default 30-round budget with room to
    // spare, and still produce the same labeling
    val chain = (0L until 59L).map(i => (i, i + 1))
    val prop = Clustering.connectedComponents(
      chain.toDF("doc_a", "doc_b"), maxIter = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Clustering.connectedComponentsStar(chain.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
    assert(star.values.toSet === Set(0L))
  }

  test("incremental clusters are bit-identical to the full run on random graphs and random splits") {
    import graft.pipeline.Clustering
    for (seed <- 1L to 5L) {
      val edges = sample(Gen.listOfN(30,
        Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L))), seed)
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // random split: "old" edges are those whose BOTH endpoints fall
      // outside a randomly chosen arriving residue class
      val mod = 2 + (seed % 3)
      val (oldE, batchE) = edges.partition {
        case (a, b) => a % mod != 0 && b % mod != 0
      }
      val full = Clustering
        .dedupClusters(null, precomputedPairs =
          Some(edges.toDF("doc_a", "doc_b")))
        .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2),
          r.getLong(3))).toSet
      val prior = Clustering.connectedComponents(
        if (oldE.isEmpty)
          Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
        else oldE.toDF("doc_a", "doc_b"))
      val incr = Clustering
        .dedupClustersIncremental(prior,
          if (batchE.isEmpty)
            Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
          else batchE.toDF("doc_a", "doc_b"))
        .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2),
          r.getLong(3))).toSet
      assert(incr === full, s"seed=$seed mod=$mod")
    }
  }

  test("cluster-size histogram is consistent with the cluster rows on random graphs") {
    import graft.pipeline.Clustering
    val docs = (0L to 15L).map(i => (i, s"doc $i", "en", "s0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    for (seed <- 1L to 5L) {
      val edges = sample(Gen.listOfN(25,
        Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L))), seed)
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val pairs = Some(edges.toDF("doc_a", "doc_b"))
      val clusters = Clustering.dedupClusters(docs, precomputedPairs = pairs)
        .collect()
      val hist = Clustering.clusterSizes(docs, precomputedPairs = pairs)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      // histogram re-derived from the per-doc cluster rows
      val want = clusters.groupBy(_.getAs[Long]("cluster_size"))
        .map { case (sz, rows) =>
          val nClusters = rows.map(_.getAs[Long]("cluster_id")).distinct.length.toLong
          (sz, (nClusters, nClusters * (sz - 1)))
        }
      assert(hist.toMap === want, s"seed=$seed")
      // every clustered doc is accounted for exactly once
      assert(hist.map { case (sz, (n, _)) => sz * n }.sum === clusters.length.toLong)
    }
  }

  test("dedup curve conserves mass and counts dups as docs-minus-distinct on random corpora") {
    import graft.pipeline.Dedup
    for (seed <- 1L to 5L) {
      // random ids and heavy text collisions to exercise every bucket shape
      val rows = sample(Gen.listOfN(40,
        Gen.zip(Gen.chooseNum(0L, 200L), Gen.chooseNum(0, 7))), seed)
        .map { case (id, t) => (id, s"text variant $t") }
        .distinct.groupBy(_._1).map(_._2.head).toSeq // unique doc_ids
      val docs = rows.map { case (id, t) => (id, t, "en", "s0", 10L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val out = Dedup.dedupCurve(docs).collect()
      assert(out.map(_.getAs[Long]("n_docs")).sum === rows.length.toLong, s"seed=$seed")
      assert(out.map(_.getAs[Long]("n_dups")).sum ===
        (rows.length - rows.map(_._2).distinct.length).toLong, s"seed=$seed")
      // cumulative fraction of the last bucket covers the whole corpus
      val last = out.last
      assert(last.getAs[Double]("cum_dup_frac") ===
        math.floor((rows.length - rows.map(_._2).distinct.length) * 1.0 /
          rows.length * 10000.0 + 0.5) / 10000.0, s"seed=$seed")
    }
  }

  test("knn hubness: histogram mass equals the vector count, edge mass equals the graph") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val hist = graft.pipeline.Embeddings.knnHubness(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hist.map(_._2).sum === emb.count())
    // Σ in_degree·n_vectors = total in-edges = the kNN edge count
    assert(hist.map { case (d, n) => d * n }.sum ===
      graft.pipeline.Embeddings.knnGraph(emb).count())
  }

  test("bpe pair stats equal a hand count on a fixture") {
    import spark.implicits._
    val docs = Seq((0L, "abab cd x"), (1L, "abab"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", lit(9L))
    val got = graft.pipeline.TextAnalysis.bpePairStats(docs).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // "abab" x2 occurrences, 1 distinct word: ab x2/word, ba x1; "cd" x1;
    // "x" has no pair (len 1 filtered)
    assert(got.toSet === Set(("ab", 4L, 1L), ("ba", 2L, 1L), ("cd", 1L, 1L)))
    // rank order: count desc, pair asc
    assert(got.map(_._1) === Seq("ab", "ba", "cd"))
  }

  test("streaming cluster folds over random batch sequences equal full CC, any arrival order") {
    import graft.streaming.StreamingClusters
    import graft.pipeline.Clustering
    def rows(dir: String) =
      if (!new java.io.File(dir).exists()) Seq.empty[String]
      else spark.read.parquet(dir).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def partFiles(dir: String) = Option(new java.io.File(dir).listFiles())
      .map(_.count(_.getName.startsWith("part-"))).getOrElse(0)
    for (seed <- 1L to 5L) {
      val labels = tmpDir(s"cluster-prop-$seed") + "/labels"
      val dist = tmpDir(s"cluster-prop-d-$seed") + "/labels"
      // random edges over a small id space (ids arrive in ARBITRARY
      // order across batches, so a later batch can carry a smaller id
      // than any stored label — the label-decrease path)
      val edges = sample(Gen.listOfN(40,
        Gen.zip(Gen.chooseNum(0L, 25L), Gen.chooseNum(0L, 25L))), seed)
        .filter { case (a, b) => a != b }
      val batches = edges.grouped(math.max(1, edges.size / 4)).toSeq
      // each trigger runs bounded and distributed (`localMax = -1`):
      // the same label rows, and one file per non-empty bounded delta;
      // the last batch replays the first, a trigger that changes nothing
      var deltas = 0
      (batches :+ batches.head).zipWithIndex.foreach { case (b, i) =>
        val before = rows(labels).length
        StreamingClusters.processPairs(b.toDF("doc_a", "doc_b"), i.toLong, labels)
        StreamingClusters.processPairs(b.toDF("doc_a", "doc_b"), i.toLong, dist,
          localMax = -1)
        if (rows(labels).length > before) deltas += 1
        assert(partFiles(labels) === deltas, s"seed=$seed batch=$i")
        assert(rows(labels) === rows(dist), s"seed=$seed batch=$i")
      }
      val folded = StreamingClusters.readLabels(spark, labels)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Clustering.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(folded === full, s"seed=$seed batches=${batches.size}")
    }
  }

  test("perceptual frame banding finds exactly the brute-force hamming<=3 cross-doc pairs") {
    import graft.pipeline.Multimodal
    for (seed <- 1L to 3L) {
      // video docs only (doc_id % 3 == 2); random ASCII payloads
      val texts = sample(Gen.listOfN(12,
        Gen.listOfN(200, Gen.chooseNum(32, 126)).map(_.map(_.toChar).mkString)),
        seed) // 200 bytes -> 4 frame windows -> sampled idx {0, 2}
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong * 3 + 2, t, "en", "s0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val got = Multimodal.frameDedupNear(docs, frameBytes = 64, stride = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // independent reference: per-frame aHash brute force + all pairs
      def frames(id: Long, t: String): Seq[(Long, Long, Long)] = {
        val bytes = t.getBytes("UTF-8")
        val n = (bytes.length + 63) / 64
        (0 until n by 2).map { f =>
          val s = f * 64; val e = math.min(s + 64, bytes.length)
          val flen = e - s
          val px = (0 until 64).map(i => (bytes(s + i * flen / 64) & 0xff).toLong)
          val sum = px.sum
          val fp = px.zipWithIndex
            .collect { case (p, i) if p * 64 > sum => 1L << i }.sum
          (id, f.toLong, fp)
        }
      }
      val all = texts.zipWithIndex.flatMap { case (t, i) => frames(i.toLong * 3 + 2, t) }
      val want = (for {
        a <- all; b <- all
        if a._1 < b._1
        h = java.lang.Long.bitCount(a._3 ^ b._3).toLong
        if h <= 3
      } yield (a._1, a._2, b._1, b._2, h)).toSet
      assert(got === want, s"seed=$seed")
    }
  }

  test("bpe encode token counts are monotone non-increasing in merge rounds; zero rounds = character count") {
    import graft.pipeline.TextAnalysis
    for (seed <- 1L to 3L) {
      val words = sample(Gen.listOfN(30,
        Gen.listOfN(6, Gen.oneOf('a', 'b', 'c')).map(_.mkString)), seed)
      val docs = words.grouped(10).zipWithIndex
        .map { case (ws, i) =>
          val t = ws.mkString(" ")
          (i.toLong, t, "en", "s0", t.length.toLong)
        }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      def total(rounds: Int): Long =
        TextAnalysis.bpeEncode(docs, rounds).agg(sum("n_bpe_tokens"))
          .collect()(0).getLong(0)
      val series = Seq(0, 1, 2, 4, 8).map(total)
      assert(series === series.sorted.reverse, s"seed=$seed $series")
      // zero merges: every word stays fully character-split
      assert(series.head === words.map(_.length).sum, s"seed=$seed")
    }
  }

  test("threshold sweep is monotone and agrees with dedupNgram at the 0.2 grid point") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sweep = graft.pipeline.Dedup.dedupThresholdSweep(docs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    // flagged mass can only shrink as the cutoff rises
    assert(sweep.map(_._2).toSeq === sweep.map(_._2).sorted.reverse.toSeq)
    assert(sweep.map(_._3).toSeq === sweep.map(_._3).sorted.reverse.toSeq)
    // cross-operator consistency: the 0.2 row counts exactly the pairs
    // the production dedup_ngram query verifies at its default cutoff
    val at02 = sweep.find(_._1 == 0.2).map(_._2)
    assert(at02.contains(graft.pipeline.Dedup.dedupNgram(docs).count()))
  }

  test("cdc chunks partition every doc: contiguous indices, conserved token mass, reference fingerprints") {
    // brute-force reference: poly hash each word, cut BEFORE each
    // boundary word (hash % 8 == 0), fingerprint = sum(gh * offset1)
    def polyRef(w: String): Long = {
      var v = 1L; var sum = 0L
      val n = math.min(w.codePointCount(0, w.length), 64)
      var i = 0; var cp = 0
      while (cp < n) {
        sum = (sum + w.codePointAt(i).toLong * v) % 1000003L
        v = (v * 31) % 1000003L
        i += Character.charCount(w.codePointAt(i)); cp += 1
      }
      sum % 1000003L
    }
    val wordGen = Gen.chooseNum(1, 40).map(i => s"w$i")
    for (seed <- 1L to 4L) {
      val docsW = sample(Gen.listOfN(12,
        Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, wordGen))), seed)
      val df = docsW.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "), "en", "s", 1L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val out = graft.pipeline.Dedup.cdcChunkDedup(df).collect()
      // token conservation across the whole corpus
      assert(out.map(_.getAs[Long]("n_tokens")).sum ===
        docsW.map(_.size.toLong).sum, s"seed=$seed")
      // reference chunking: same count of distinct chunk identities
      val refChunks = docsW.zipWithIndex.flatMap { case (ws, d) =>
        val hs = ws.map(polyRef)
        val cuts = hs.zipWithIndex.map { case (h, i) => (h % 8 == 0, i) }
        val idx = cuts.scanLeft(0L) { case (acc, (b, _)) =>
          acc + (if (b) 1 else 0) }.tail
        ws.indices.groupBy(i => idx(i)).map { case (ci, poss) =>
          val fp = poss.sortBy(identity).zipWithIndex
            .map { case (pos, off) => hs(pos) * (off + 1) }.sum
          (fp, poss.size.toLong)
        }
      }
      val refDup = {
        val seen = scala.collection.mutable.Set.empty[(Long, Long)]
        var dupTok = 0L
        for ((fp, len) <- refChunks)
          if (!seen.add((fp, len))) dupTok += len
        dupTok
      }
      assert(out.map(_.getAs[Long]("dup_tokens")).sum === refDup,
        s"seed=$seed")
    }
  }

  test("cdc occ_key encoding bounds hold on every testdata SF (tokens/doc < 2^24, doc_id < 2^39)") {
    // The occ_key = doc_id * CdcKeyMult + chunk_idx encoding is a
    // strict total order ONLY under these bounds (chunk_idx is
    // bounded by tokens-per-doc); the oracle's token-position range
    // is now derived from MAX(len(toks)) so it can't silently
    // truncate, but the ENCODING bound still needs a tripwire a
    // testdata refresh would hit loudly.
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val r = docs.select(
        max(size(split(col("text"), " "))).cast("long").as("max_toks"),
        max(col("doc_id")).as("max_id")).collect()(0)
      assert(r.getLong(0) < graft.pipeline.Dedup.CdcKeyMult, s"$sf tokens")
      // +2M headroom: the incremental oracle shifts batch ids by 2^21
      assert(r.getLong(1) + 3000000L < (1L << 39), s"$sf doc ids")
    }
  }
}
