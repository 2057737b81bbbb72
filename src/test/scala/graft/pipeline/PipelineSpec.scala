package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "s0", 70L),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight", "en", "s0", 72L),
    (2L, "completely different content about spark data processing at massive scale", "en", "s1", 74L),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "s2", 70L),
    (4L, "tiny doc", "en", "s3", 8L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup keeps first doc per identical content") {
    val out = Dedup.dedupExact(docs).collect()
    assert(out.map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 4L)) // 3 is dup of 0
    assert(out.find(_.getLong(0) == 0L).get.getAs[Long]("dup_count") === 2L)
  }

  test("dedup curve flags later exact copies as dups in their id bucket") {
    // ids 0..4, buckets of width (4+1)/10 -> bucket = id * 10 div 5 = 2*id
    val out = Dedup.dedupCurve(docs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dups")))).toMap
    assert(out === Map(0L -> ((1L, 0L)), 2L -> ((1L, 0L)), 4L -> ((1L, 0L)),
      6L -> ((1L, 1L)), 8L -> ((1L, 0L))))
    val last = Dedup.dedupCurve(docs).collect().last
    assert(last.getAs[Double]("cum_dup_frac") === 0.2)
  }

  test("minhash LSH finds the near-duplicate pair and skips unrelated docs") {
    val pairs = Dedup.dedupMinhash(docs, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // one-word difference
    assert(pairs.contains((0L, 3L))) // identical
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated doc
  }

  test("minhash calibration: identical docs estimate 1.0 with zero error") {
    val out = Dedup.minhashCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val identical = out((0L, 3L)) // same text -> same signature, J = 1
    assert(identical.getAs[Long]("matches") === 16L)
    assert(identical.getAs[Double]("est_sim") === 1.0)
    assert(identical.getAs[Double]("jaccard") === 1.0)
    assert(identical.getAs[Double]("abs_err") === 0.0)
    val near = out((0L, 1L)) // one-word difference: high but imperfect
    val jac = near.getAs[Double]("jaccard")
    // 11 of 13 shingles shared; the frame rounds to 4 places
    assert(math.abs(jac - 11.0 / 13.0) < 1e-4)
    // One pair is one sample of the 16-hash estimator, so its match
    // count is pinned to the signatures rebuilt here from the gram
    // strings alone: gram id = sum(cp_i * 31^i) mod P over the first 64
    // code points (poly_hash's definition, in BigInt), then the affine
    // family min over each doc's ids.
    def gid(g: String): Long = g.codePoints.toArray.take(64).zipWithIndex
      .map { case (cp, i) => BigInt(cp) * BigInt(31).pow(i) }.sum
      .mod(BigInt(Dedup.Prime)).toLong
    val gids = Dedup.shingles(docs.filter(col("doc_id") <= 1L))
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(r => gid(r.getString(1))).toSeq }
    def sig(gs: Seq[Long]) = (0 until 16).map(j =>
      gs.map(g => ((37L + 101L * j) * g + 17L + 257L * j) % Dedup.Prime).min)
    val matches = sig(gids(0L)).zip(sig(gids(1L))).count { case (a, b) => a == b }
    assert(near.getAs[Long]("matches") === matches.toLong)
    assert(matches < 16)
    assert(math.abs(near.getAs[Double]("abs_err") -
      math.abs(matches / 16.0 - 11.0 / 13.0)) < 1e-4)
  }

  test("ngram Jaccard agrees with a hand computation") {
    val row = Dedup.dedupNgram(docs, maxDf = 20, minJaccard = 0.2)
      .filter(col("doc_a") === 0 && col("doc_b") === 1).collect()(0)
    // 12 shingles each, 11 shared -> 11 / 13
    assert(row.getAs[Long]("inter_n") === 11L)
    assert(row.getAs[Long]("n_a") === 12L)
    assert(math.abs(row.getAs[Double]("jaccard") - 11.0 / 13.0) < 1e-3)
  }

  test("split leakage equals the hand-joined pair/split composition") {
    val split = Sampling.splitAssign(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val pairs = Dedup.dedupNgram(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (d, p) => split(d) != split(p) }
      .groupBy { case (d, p) => (split(d), split(p)) }
      .map { case (k, v) => k -> ((v.map(_._1).distinct.length.toLong, v.length.toLong)) }
    val got = Sampling.splitLeakage(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_pairs")))).toMap
    assert(got === want)
  }

  test("cluster-aware split has zero cross-split leakage by construction") {
    val split = Sampling.clusterSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val pairs = Dedup.dedupNgram(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b), s"pair ($a,$b) crosses splits")
    }
    // singletons still covered: every doc gets an assignment
    assert(split.keySet === docs.collect().map(_.getLong(0)).toSet)
  }

  test("ngram fast mode returns the exact-blocking result on the fixture") {
    val slow = Dedup.dedupNgram(docs).collect().map(_.toString).toSeq
    val fast = Dedup.dedupNgramFast(docs).collect().map(_.toString).toSeq
    assert(fast === slow) // no gid collisions at fixture scale
    assert(fast.nonEmpty)
  }

  test("simhash: identical docs at hamming 0; banding is exact for <= 3") {
    val out = Dedup.dedupSimhash(docs, maxHamming = 3)
    val h = out.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("hamming"))).toMap
    assert(h((0L, 3L)) === 0L)
    assert(h.get((0L, 1L)).forall(_ <= 3L))
  }

  test("salted bucket pairs equal the unsalted bucket self-join pair set") {
    val members = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L), (3L, 30L)).toDF("bucket", "doc_id")
    val salted = Dedup.saltedBucketPairs(members, Seq("bucket"), "doc_id", salts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = members.select(col("bucket"), col("doc_id").as("doc_a"))
      .join(members.select(col("bucket"), col("doc_id").as("doc_b")), "bucket")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === plain)
    assert(salted.size === 6 + 1) // C(4,2) + C(2,2)
  }

  test("capped bucket pairs: identical to salted below cap; one-hot-cell fixture stays linear, covered, connected above it") {
    val members = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L), (3L, 30L)).toDF("bucket", "doc_id")
    val capped = Dedup.cappedBucketPairs(members, Seq("bucket"), "doc_id",
      cap = 100, salts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Dedup.saltedBucketPairs(members, Seq("bucket"), "doc_id", salts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === salted) // below cap: bit-identical pair SET

    // the one-hot-cell fixture: ALL n vectors land in one cell (the
    // skew the IVF family produces on boilerplate-heavy corpora); a
    // small SECOND bucket rides along to pin that the sub-bucket
    // branch leaves sub-cap buckets' pair sets complete
    val n = 300
    val cap = 16
    val hot = ((0 until n).map(i => (1L, i.toLong)) ++
      (0 until 5).map(i => (2L, 1000L + i))).toDF("bucket", "doc_id")
    val all = Dedup.cappedBucketPairs(hot, Seq("bucket"), "doc_id", cap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (small, pairs) = all.partition(_._1 >= 1000L)
    assert(small.toSet.size === 10) // C(5,2): the small bucket is EXACT
    val pairSet = pairs.toSet
    assert(pairSet.size === pairs.length) // distinct-ed output
    // LINEAR, not quadratic: each member pairs against O(cap) peers —
    // ~2.5*cap with hash spread slack — vs C(300,2) = 44850 all-pairs
    assert(pairs.length < n * 3 * cap, s"pairs=${pairs.length}")
    assert(pairs.length < (n * (n - 1)) / 8)
    // per-TASK block bound: no sub-bucket melts a reducer — the
    // largest (sub) block stays within hash-spread slack of cap
    val nsub = (n + cap - 1) / cap
    val subSizes = hot
      .withColumn("sub", pmod(xxhash64(col("doc_id")), lit(nsub.toLong)))
      .groupBy("sub").count().collect().map(_.getAs[Long]("count"))
    assert(subSizes.max <= 3 * cap, s"max sub-bucket=${subSizes.max}")
    // COVERAGE: nothing routed away — every member reaches the output
    val touched = pairSet.flatMap(p => Set(p._1, p._2))
    assert(touched === (0L until n.toLong).toSet)
    // CONNECTED: the chain-adjacent blocks keep the hot cell one
    // component, so downstream clustering can still glue it together
    val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairSet.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until n.toLong).map(find).toSet.size === 1)
  }

  test("sign-LSH band recall by true-cosine bucket: measured at BOTH widths (32-plane vs 64-plane wide)") {
    // The minhash_recall_sample discipline applied to the embedding
    // banding: the wide (64-plane / 16-bit-band) mode fixes the
    // measured occupancy cliff (sf10: 32-plane trigger 4.7x per 4x
    // state) by trading banded recall — this test MEASURES that
    // S-curve shift on the real corpus so the trade is recorded, not
    // asserted. Ground truth = exact quantized cosine over all pairs
    // (the same integers verifyCosine uses), computed driver-side
    // (500 vectors at sf0.001).
    // sf0.001 has no pairs above cosine 0.7, so the fixture appends
    // deterministic perturbed copies of every 5th vector: a tiny
    // dim-0 nudge (cosine ~0.999 — the top bucket) and a half-dims
    // damping (cosine ~0.88 — the middle bucket); ground truth below
    // is computed over the augmented frame, so buckets self-assign.
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val near = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i = 0, CAST(x + 0.05 AS FLOAT), x))")
          .as("embedding"))
    val mid = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 20000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i % 2 = 0, CAST(x * 0.3 AS FLOAT), x))")
          .as("embedding"))
    val emb = base.unionByName(near).unionByName(mid)
    val qv = graft.pipeline.Embeddings.quantizedIndex(emb).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val truth = scala.collection.mutable.Map(
      (0 until 3).map(b => b -> scala.collection.mutable.Set.empty[(Long, Long)]): _*)
    def bucket(c: Double): Int =
      if (c >= 0.9) 2 else if (c >= 0.7) 1 else if (c >= 0.4) 0 else -1
    for (i <- qv.indices; j <- (i + 1) until qv.length) {
      val (ia, qa, na) = qv(i); val (ib, qb, nb) = qv(j)
      var dot = 0L; var d = 0
      while (d < qa.length) { dot += qa(d) * qb(d); d += 1 }
      val c = dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      val bk = bucket(c)
      if (bk >= 0) truth(bk) += ((math.min(ia, ib), math.max(ia, ib)))
    }
    assert(truth(2).nonEmpty && truth(0).nonEmpty, truth.view.mapValues(_.size).toMap.toString)
    val recalls = for (planes <- Seq(Embeddings.NumPlanes, Embeddings.NumPlanesWide)) yield {
      val cands = Embeddings.bandCandidatePairs(emb, planes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val r = (0 until 3).map(b =>
        if (truth(b).isEmpty) 1.0
        else truth(b).count(cands.contains).toDouble / truth(b).size)
      planes -> r
    }
    info(recalls.map { case (p, r) =>
      f"$p planes: [0.4,0.7)=${r(0)}%.3f [0.7,0.9)=${r(1)}%.3f [0.9,1]=${r(2)}%.3f"
    }.mkString("; "))
    val narrow = recalls.head._2; val wide = recalls(1)._2
    // the 32-plane banding must stay a high-recall near-dup blocker in
    // the verify zone's top bucket; the wide mode keeps usable recall
    // there (the price of flat occupancy) — floors pin the MEASURED
    // values with slack so a banding regression trips loudly
    assert(narrow(2) >= 0.8, s"narrow top-bucket ${narrow(2)}")
    assert(wide(2) >= 0.3, s"wide top-bucket ${wide(2)}")
    // wider bands can only cut per-band match probability in the top
    // bucket (p^16 <= p^8 per band pair) — the direction of the trade
    assert(wide(2) <= narrow(2) + 1e-9)
  }

  test("capped bucket pairs: above-cap recall is MEASURED and meets the analytic floor") {
    // The family's calibration discipline (ann_recall /
    // minhash_recall_sample) applied to the hot-cell guard itself. In
    // a hot cell of near-identical members every pair is a true pair,
    // so the retained-pair fraction IS the candidate recall the cap
    // trades above HotCellCap. Even-spread analytic retention with
    // s = ceil(n/cap) sub-buckets: within-blocks n²/2s + adjacent
    // blocks (s-1)(n/s)² over n²/2 exact = (3s-2)/s²; hash spread
    // moves block sizes, so assert a 0.75 margin and record the
    // measured points (these are quoted in HotCellCap's scaladoc —
    // keep in lockstep).
    val cap = 16
    val measured = for (n <- Seq(64, 128, 256)) yield {
      val hot = (0 until n).map(i => (1L, i.toLong)).toDF("bucket", "doc_id")
      val got = Dedup.cappedBucketPairs(hot, Seq("bucket"), "doc_id",
        cap = cap).count().toDouble
      val exact = n.toLong * (n - 1) / 2
      val recall = got / exact
      val s = (n + cap - 1) / cap
      val analytic = (3.0 * s - 2) / (s.toLong * s)
      assert(recall >= 0.75 * analytic,
        f"n=$n s=$s recall=$recall%.3f < 0.75*analytic=${0.75 * analytic}%.3f")
      assert(recall <= 1.0)
      (s, recall, analytic)
    }
    info(measured.map { case (s, r, a) =>
      f"${s}x-over-cap: recall=$r%.3f (analytic ${a}%.3f)" }.mkString("; "))
    // recall decays ~1/s: deeper skew costs recall monotonically
    assert(measured.map(_._2).sliding(2).forall(p => p(0) > p(1)))
  }

  test("bpe encode: token counts and compression under full and truncated merge tables") {
    val d = Seq((0L, "low lower lowest low low", "en", "s0", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // 6 merges collapse every word to one symbol: 5 words -> 5 tokens
    val full = TextAnalysis.bpeEncode(d).collect()(0)
    assert(full.getAs[Long]("n_words") === 5L)
    assert(full.getAs[Long]("n_bpe_tokens") === 5L)
    assert(full.getAs[Double]("chars_per_token") === 4.8)
    // after 2 merges: low=[low], lower=[low,e,r], lowest=[low,e,s,t]
    assert(TextAnalysis.bpeEncode(d, rounds = 2)
      .collect()(0).getAs[Long]("n_bpe_tokens") === 10L)
  }

  test("oov rate against the BPE-trained merge vocabulary") {
    val d = Seq((0L, "low lower lowest low low", "en", "s0", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the 6-round trace merges up to {lower, lowest} and "low" itself
    // (round 2) -> every word is covered by some trained symbol
    val vocab = TextAnalysis.bpeMerges(d)
      .select(col("merged").as("term"))
    val out = TextAnalysis.oovRateAgainst(d, vocab).collect()(0)
    assert(out.getAs[Long]("n_tok") === 5L)
    assert(out.getAs[Long]("n_oov") === 0L)
    // a vocab cut after 2 merge rounds covers only the three "low"s
    val vocab2 = TextAnalysis.bpeMerges(d, rounds = 2)
      .select(col("merged").as("term"))
    assert(TextAnalysis.oovRateAgainst(d, vocab2)
      .collect()(0).getAs[Long]("n_oov") === 2L)
  }

  test("perceptual frame near-dup catches the one-byte re-encode the exact CRC misses") {
    // video docs are doc_id % 3 == 2; 70-byte payloads = one sampled
    // 64-byte frame (stride 2). doc 2: uniform 'a' -> fp 0. doc 5:
    // one 'z' at byte 10 -> exactly that pixel exceeds the mean ->
    // hamming 1. doc 8: alternating a/z -> 32 bits -> no pair.
    val d = Seq(
      (2L, "a" * 70),
      (5L, "a" * 10 + "z" + "a" * 59),
      (8L, "az" * 35)
    ).map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val near = Multimodal.frameDedupNear(d, frameBytes = 64, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(near.toSeq === Seq((2L, 0L, 5L, 0L, 1L)))
    // the exact-CRC detector cannot see this pair (bytes differ)
    assert(Multimodal.frameDedup(d, frameBytes = 64, stride = 2)
      .collect().isEmpty)
  }

  test("perceptual frame near-dup plan: payload bytes never enter an exchange") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = Multimodal.frameDedupNear(d, frameBytes = 64, stride = 2)
    df.count() // AQE materializes the final plan only after an action
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val exchanges = finalPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty)
    // every row crossing an exchange is band/id longs — no binary
    // column and nothing payload-shaped survives past mapPartitions
    for (e <- exchanges; a <- e.output) {
      assert(!a.dataType.isInstanceOf[org.apache.spark.sql.types.BinaryType],
        s"binary column ${a.name} in exchange")
      assert(!a.name.contains("payload"), s"payload column in exchange")
    }
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("minhash S-curve: monotone in jaccard, band count trades low-s recall for selectivity") {
    val rows = Dedup.minhashScurve(spark).collect()
      .map(r => ((r.getLong(0), math.round(r.getDouble(2) * 100).toInt),
        r.getDouble(3))).toMap
    assert(rows.size === 5 * 19)
    // per factorization, P is nondecreasing in s
    for (b <- Seq(1L, 2L, 4L, 8L, 16L)) {
      val curve = (1 to 19).map(i => rows((b, i * 5)))
      assert(curve === curve.sorted, s"bands=$b")
    }
    // closed-form spot checks at s=0.5: r=16,b=1 -> 0.5^16 (r4 -> 0);
    // r=1,b=16 -> 1-0.5^16 (r4 -> 1)
    assert(rows((1L, 50)) === 0.0)
    assert(rows((16L, 50)) === 1.0)
    // the family default 4x4 crosses P=0.5 between 0.60 and 0.65
    assert(rows((4L, 60)) < 0.5 && rows((4L, 65)) > 0.5)
  }

  test("bpe merges: the textbook low/lower/lowest training trace, stopping when pairs run dry") {
    val d = Seq((0L, "low lower lowest low low", "en", "s0", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.bpeMerges(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // round 1 ties (l,o)=(o,w)=5 -> lhs tie-break picks (l,o)
    assert(out.toSeq === Seq(
      (1L, "l", "o", "lo", 5L),
      (2L, "lo", "w", "low", 5L),
      (3L, "low", "e", "lowe", 2L),
      (4L, "lowe", "r", "lower", 1L),
      (5L, "lowe", "s", "lowes", 1L),
      (6L, "lowes", "t", "lowest", 1L))) // round 7 has no pairs left
  }

  test("bpe merges: back-to-back occurrences of the merged pair both collapse in one round") {
    val d = Seq((0L, "abab", "en", "s0", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.bpeMerges(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, "a", "b", "ab", 2L), // greedy left-to-right: both (a,b) merge
      (2L, "ab", "ab", "abab", 1L)))
  }

  test("shared-shingle composites delete their scratch store after completing") {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-scratch-spec").toString
    spark.conf.set("graft.scratch.dir", "file:" + scratch)
    try {
      def children() = new java.io.File(scratch).listFiles()
        .map(_.getName).toSeq
      val venn = Dedup.dedupPairVenn(docs)
      assert(children().isEmpty, children()) // store deleted before return
      assert(venn.count() === 3L) // the checkpointed rows survive deletion
      val savings = Dedup.dedupTokenSavings(docs)
      assert(children().isEmpty, children())
      assert(savings.count() === 5L)
      // caller-supplied stores are the caller's to manage: NOT deleted
      val own = scratch + "/own-store"
      Dedup.writeShingleStore(docs, own)
      Dedup.dedupPairVenn(docs,
        precomputedShingles = Some(spark.read.parquet(own))).count()
      assert(children() === Seq("own-store"))
    } finally spark.conf.unset("graft.scratch.dir")
  }

  test("pii source rates count in scrub order and rate affected docs per source") {
    val fixture = Seq(
      (0L, "contact me at bob@example.com or 10.0.0.1 today", "en", "s0", 46L),
      (1L, "clean text with no identifiers at all here", "en", "s0", 43L),
      (2L, "call +12025550123 now", "en", "s1", 21L),
      (3L, "also clean", "en", "s2", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.piiSourceRates(fixture).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("s0").getAs[Long]("n_emails") === 1L)
    assert(out("s0").getAs[Long]("n_ips") === 1L)
    assert(out("s0").getAs[Long]("docs_with_pii") === 1L)
    assert(out("s0").getAs[Double]("pii_doc_rate") === 0.5)
    assert(out("s1").getAs[Long]("n_phones") === 1L)
    assert(out("s1").getAs[Double]("pii_doc_rate") === 1.0)
    assert(out("s2").getAs[Long]("docs_with_pii") === 0L)
    assert(out("s2").getAs[Double]("pii_doc_rate") === 0.0)
  }

  test("cross-lang near-dup matrix: identical texts across langs land off-diagonal") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val other = "completely different content about spark data processing at massive scale"
    val fixture = Seq(
      (0L, base, "en", "s0"), (1L, base, "de", "s0"),   // cross-lang dup
      (2L, base, "en", "s0"),                           // within-lang dup of 0
      (3L, other, "fr", "s1")                           // unrelated
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val rows = Dedup.dedupCrossLang(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getAs[Long]("n_pairs"), r.getAs[Long]("cross_lang"))).toMap
    // pairs: (0,1) de-en, (0,2) en-en, (1,2) de-en
    assert(rows(("de", "en")) === ((2L, 1L)))
    assert(rows(("en", "en")) === ((1L, 0L)))
    assert(!rows.contains(("fr", "fr")))
  }

  test("transitivity wedge cap excludes hub middle vertices, bounding fan-out") {
    // Star + triangle fixture: hub H near-dups 4 spokes (spokes share
    // only H's core, pairwise J < 0.2), plus a 3-clique of identical
    // docs. Hub degree 4; triangle vertices degree 2; spokes degree 1.
    val core = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    def spoke(i: Int) = core + " " + (1 to 30).map(w => s"tail$i$w").mkString(" ")
    val tri = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa oscar"
    val star = (Seq((0L, core)) ++ (1 to 4).map(i => (i.toLong, spoke(i))) ++
      Seq((5L, tri), (6L, tri), (7L, tri)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
    // Uncapped (default 1000): 6 open wedges through the hub + 3
    // closed through the triangle.
    val full = Dedup.dedupTransitivity(star).collect()(0)
    assert(full.getAs[Long]("n_pairs") === 7L)
    assert(full.getAs[Long]("n_wedges") === 9L)
    assert(full.getAs[Long]("n_closed") === 3L)
    // Cap below the hub's degree: its d²/2 wedge fan-out disappears
    // (bounded by cap x pairs), non-hub wedges untouched.
    val capped = Dedup.dedupTransitivity(star, maxWedgeDegree = 3L).collect()(0)
    assert(capped.getAs[Long]("n_pairs") === 7L)
    assert(capped.getAs[Long]("n_wedges") === 3L)
    assert(capped.getAs[Long]("n_closed") === 3L)
    assert(capped.getAs[Double]("transitivity") === 1.0)
  }

  test("no cartesian product in any near-dup plan") {
    for ((_, plans) <- Seq(executedPlans(Dedup.dedupMinhash(docs)),
        executedPlans(Dedup.dedupSimhash(docs)),
        executedPlans(Dedup.dedupNgram(docs)))) {
      val plan = plans.mkString("\n")
      // the candidate pair join must be among the executed plans
      assert(plans.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])), plan)
      assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    }
  }

  test("minhash/simhash/embedding candidate joins are skew-salted in the executed plan") {
    val emb = Seq(
      (0L, Array.fill(64)(0.5f), 0),
      (1L, Array.fill(64)(0.5f), 0),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    // r16: withJaccard pins the candidate frame (localCheckpoint), so
    // the salted candidate join executes inside the checkpoint job and
    // is no longer visible in the FINAL plan — audit what executed.
    for ((_, plans) <- Seq(executedPlans(Dedup.dedupMinhash(docs)),
        executedPlans(Dedup.dedupSimhash(docs)),
        executedPlans(Embeddings.dedupEmbedding(emb)))) {
      val plan = plans.mkString("\n")
      // saltedBucketPairs signature: pmod(xxhash64(id)) on the left,
      // an exploded salt sequence on the right, salt in the join key.
      assert(plan.contains("pmod(xxhash64("), "salt column missing:\n" +
        plan.linesIterator.take(8).mkString("\n"))
    }
  }

  test("scale-mode minhash (poly ids) finds the same verified pairs") {
    val fast = Dedup.dedupMinhash(docs, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast.contains((0L, 1L)))
    assert(fast.contains((0L, 3L)))
    assert(!fast.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("poly minhash family: pinned recall floor vs brute-force ground truth at sf0.001") {
    // The DuckDB oracle pins the poly family's pairs to its own LSH
    // bands, so it says nothing about recall; the recall gate lives
    // here: brute-force ground truth — every pair at
    // exact shingle Jaccard >= 0.2, derived WITHOUT any LSH — must
    // be recovered by the banded run at >= 90% recall, and every
    // emitted pair must be IN the truth set (the exact verify makes
    // precision 1.0 by construction; this asserts it stayed wired).
    // Banded-LSH recall at the threshold is probabilistic BY DESIGN
    // (a J≈0.2 pair hits a band with prob ~1-(1-J^4)^4), so equality
    // is the wrong gate — the floor pins the corpus-level recall the
    // planted near-dup mass actually achieves.
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val sh = Dedup.shingles(corpus).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = sh.select(col("doc_id").as("doc_a"), col("gram"))
      .join(sh.select(col("doc_id").as("doc_b"), col("gram")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_n"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .filter(col("inter_n") * 1.0 / (col("n_a") + col("n_b") - col("inter_n")) >= 0.2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.dedupMinhash(corpus, minJaccard = 0.2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    sh.unpersist()
    assert(truth.nonEmpty, "fixture has no near-dup pairs — floor is vacuous")
    assert((got -- truth).isEmpty,
      s"emitted pairs outside ground truth: ${(got -- truth).take(5)}")
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9,
      s"poly family recall $recall below 0.9 floor (${got.size}/${truth.size})")
  }

  test("containment catches an excerpt that Jaccard misses") {
    val excerptDocs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi", "en", "s0", 80L),
      // doc 1 is the first 6 words of doc 0: J = 4/12 = 0.33, containment = 4/4 = 1.0
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s0", 36L),
      (2L, "totally unrelated words about something else entirely different here now", "en", "s1", 70L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val cont = Dedup.dedupContainment(excerptDocs, maxDf = 20, minContainment = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("containment"))).toMap
    assert(cont(((0L, 1L))) === 1.0)
    assert(!cont.keySet.exists(p => p._1 == 2L || p._2 == 2L))
    val jac = Dedup.dedupNgram(excerptDocs, maxDf = 20, minJaccard = 0.6)
      .collect()
    assert(!jac.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L)) // Jaccard misses it
  }

  test("incremental minhash equals the full run restricted to batch-touching pairs") {
    val corpus = docs.filter(col("doc_id") < 3)
    val batch = docs.filter(col("doc_id") >= 3)
    val full = Dedup.dedupMinhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = full.filter { case (a, b) => a >= 3 || b >= 3 }
    val incr = Dedup.dedupMinhashIncremental(Dedup.shingles(corpus),
        Dedup.minhashSignatures(corpus), batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr === wantPairs)
    // the same state read back from parquet stores
    val dir = tmpDir("mh-incr")
    Dedup.writeShingleStore(corpus, dir + "/sh")
    Dedup.writeMinhashStore(corpus, dir + "/sig")
    val store = Dedup.dedupMinhashIncremental(spark.read.parquet(dir + "/sh"),
        spark.read.parquet(dir + "/sig"), batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(store === wantPairs)
  }

  test("incremental simhash equals the full run restricted to batch-touching pairs") {
    val corpus = docs.filter(col("doc_id") < 3)
    val batch = docs.filter(col("doc_id") >= 3)
    val full = Dedup.dedupSimhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = full.filter { case (a, b) => a >= 3 || b >= 3 }
    val incr = Dedup.dedupSimhashIncremental(
        Dedup.simhashFingerprints(corpus), batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr === wantPairs)
    // the same state read back from a parquet store: the ENTIRE corpus
    // state is one (doc_id, fp) long per doc
    val dir = tmpDir("sim-incr") + "/fp"
    Dedup.writeSimhashStore(corpus, dir)
    val store = Dedup.dedupSimhashIncremental(spark.read.parquet(dir), batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(store === wantPairs)
  }

  test("incremental n-gram past the rare-gram pushdown bound falls back to the gram-keyed semi-join") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // 30 distinct tokens per doc -> 28 distinct 3-grams at df 1-2: a
    // 60-doc batch carries ~1.7k rare batch grams, past the In-list
    // bound. Batch docs 100-109 near-dup corpus docs 0-9 (last word
    // changed), 150-159 near-dup batch docs 140-149 (first word).
    def words(d: Long) = (0 until 30).map(j => s"w${d}x$j")
    val corpusRows = (0L until 40L).map(d => (d, words(d).mkString(" ")))
    val batchRows = (100L until 160L).map { d =>
      val ws =
        if (d < 110L) words(d - 100L).updated(29, "changed")
        else if (d >= 150L) words(d - 10L).updated(0, "changed")
        else words(d)
      (d, ws.mkString(" "))
    }
    // parquet-backed, so the pushdown In filter (if taken) cannot fold
    // into a LocalRelation and vanish from the executed plans
    val dir = tmpDir("ngram-overbound")
    corpusRows.toDF("doc_id", "text").write.parquet(dir + "/corpus")
    batchRows.toDF("doc_id", "text").write.parquet(dir + "/batch")
    val corpus = spark.read.parquet(dir + "/corpus")
    val batch = spark.read.parquet(dir + "/batch")
    val all = corpus.unionByName(batch)
    val rareBatchGrams = Dedup.shingles(batch).select("gram").distinct()
      .join(Dedup.gramDfDelta(Dedup.shingles(all)).filter(col("df_cnt") <= 5L), "gram")
      .count()
    assert(rareBatchGrams > Dedup.RareGramPushdownMax, rareBatchGrams)
    val wantPairs = Dedup.dedupNgram(all, maxDf = 5L, minJaccard = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a >= 100L || b >= 100L }.toSet
    assert(wantPairs.size === 20, wantPairs)
    val corpusSh = Dedup.shingles(corpus)
    // the distributed plan, forced through the bound (BoundedTriggerSpec
    // covers the bounded plan over the pushdown bound)
    val (incr, plans) = executedPlans(Dedup.dedupNgramIncremental(
      corpusSh, Dedup.gramDfDelta(corpusSh), batch, maxDf = 5L, minJaccard = 0.2,
      localMax = -1))
    assert(incr.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === wantPairs)
    val p = plans.mkString("\n")
    // the shingle side (doc_id, gram) restricted by a gram-keyed
    // left-semi join ...
    assert(plans.exists(_.exists {
      case j: BaseJoinExec =>
        val keys = (j.leftKeys ++ j.rightKeys).flatMap(_.references)
        j.joinType == LeftSemi && keys.nonEmpty && keys.forall(_.name == "gram") &&
          j.output.exists(_.name == "doc_id")
      case _ => false
    }), p)
    // ... and never by the pushed-down In list
    assert(!plans.exists(_.exists {
      case f: FilterExec => f.condition.exists {
        case _: In | _: InSet => true
        case _ => false
      }
      case _ => false
    }), p)
  }

  test("precomputed shingle store yields identical near-dup output") {
    val store = tmpDir("shingle-store") + "/shingles"
    Dedup.writeShingleStore(docs, store)
    val sh = Some(spark.read.parquet(store))
    val direct = Dedup.dedupNgram(docs, maxDf = 20, minJaccard = 0.2)
      .collect().map(_.toSeq).toSet
    val stored = Dedup.dedupNgram(docs, maxDf = 20, minJaccard = 0.2,
      precomputedShingles = sh)
      .collect().map(_.toSeq).toSet
    assert(direct === stored)
  }

  test("scale-mode simhash: identical docs at hamming 0, unrelated apart") {
    val fast = Dedup.dedupSimhash(docs, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("hamming"))).toMap
    // identical text => identical fingerprint in ANY hash family
    assert(fast((0L, 3L)) === 0L)
    assert(!fast.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("scale-mode simhash banding equals brute-force hamming<=3 (poly family)") {
    val banded = Dedup.dedupSimhash(docs, maxHamming = 3)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Independent ground truth: recompute the poly fingerprints from
    // the shingle gids in plain Scala and enumerate EVERY doc pair —
    // the pigeonhole claim (4 byte bands are exact for hamming <= 3)
    // must make the bucketed plan reproduce this set exactly.
    val gids = Dedup.shingles(docs)
      .select(col("doc_id"), call_function("poly_hash", col("gram")).as("gid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = gids.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2) }
    def fp(gs: Seq[Long]): Long = (0 until 32).map { b =>
      val votes = gs.map(g =>
        if (((g * (37L + 101L * b) + (17L + 257L * b)) % 1000003L) % 2 == 1) 1L
        else -1L).sum
      if (votes > 0) 1L << b else 0L
    }.sum
    val fps = byDoc.map { case (d, gs) => d -> fp(gs.toSeq) }
    val ids = fps.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3
    } yield (a, b)).toSet
    assert(banded === brute)
  }

  test("ann_topk ranks by exact cosine with deterministic tie-break") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (100L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(1.0f, 0.05f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val top = Embeddings.annTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 2)
      .filter(col("query_id") === 0)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("vec_id")).toSeq === Seq(3L, 100L))
  }

  test("hybrid search fuses lexical and semantic ranks; one-list docs still score") {
    // probe doc 0: grams {a b c, b c d, c d e}
    // doc 1: 3 shared grams of 4 -> jacc 0.75 (lex rank 1), cosine 0 (sem rank 3)
    // doc 2: 1 shared gram  of 3 -> jacc 0.2  (lex rank 2), cosine 0.8 (sem rank 2)
    // doc 3: < 3 tokens, NO grams (lex-absent), cosine ~0.995 (sem rank 1)
    val hdocs = Seq(
      (0L, "a b c d e", "en", "web", 9L),
      (1L, "a b c d e f", "en", "web", 11L),
      (2L, "a b c x y", "en", "web", 9L),
      (3L, "z z", "en", "web", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val hemb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f), 0),
      (2L, Array(0.8f, 0.6f, 0.0f), 0),
      (3L, Array(0.99f, 0.1f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Embeddings.hybridSearch(hdocs, hemb).orderBy("rank").collect()
    // RRF: doc1 = 1/61 + 1/63 > doc2 = 2/62 > doc3 = 1/61 alone —
    // fusion flips nothing-by-accident: doc1 wins on the reciprocal
    // sum despite doc2 beating it semantically.
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L, 3L))
    assert(out(0).getAs[Double]("rrf_score") === 0.0323)
    val d3 = out(2)
    assert(d3.isNullAt(d3.fieldIndex("lex_rank")))
    assert(d3.getAs[Long]("sem_rank") === 1L)
    // self never retrieved
    assert(!out.map(_.getAs[Long]("doc_id")).contains(0L))
  }

  test("cdc chunk dedup: identical docs fully dedup, shifted docs still share chunk mass, ledger is exact") {
    val body = (1 to 64).map(i => s"tok$i").mkString(" ")
    val cdocs = Seq(
      (0L, body, "en", "a", 1L),
      (1L, body, "en", "b", 1L),              // exact copy in another source
      (2L, "PREFIX INSERTED HERE " + body, "en", "c", 1L), // shifted copy
      (3L, "unrelated totally different words entirely", "en", "d", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.cdcChunkDedup(cdocs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // doc 1 is byte-identical to doc 0: every chunk is a dup of doc 0's
    assert(out("b").getAs[Long]("dup_tokens") === out("b").getAs[Long]("n_tokens"))
    assert(out("b").getAs[Double]("dup_token_share") === 1.0)
    // doc 2 is doc 0 with a 3-word prefix: content-defined boundaries
    // realign after the first cut, so MOST of its token mass dedups
    // against doc 0 — the property fixed-width spans cannot give
    val c = out("c")
    assert(c.getAs[Long]("dup_tokens") * 10 > c.getAs[Long]("n_tokens") * 5,
      s"shifted copy should dedup >50% of tokens, got $c")
    assert(c.getAs[Long]("dup_tokens") < c.getAs[Long]("n_tokens"))
    // token conservation: per-source n_tokens equals the word count
    assert(out("a").getAs[Long]("n_tokens") === 64L)
    assert(out("c").getAs[Long]("n_tokens") === 67L)
    // doc 0 is canonical (smallest occ key): zero dups; unrelated doc too
    assert(out("a").getAs[Long]("dup_tokens") === 0L)
    assert(out("d").getAs[Long]("dup_chunks") === 0L)
  }

  test("incremental cdc chunk dedup equals the full run restricted to batch docs; store path never reads corpus text") {
    val body = (1 to 64).map(i => s"tok$i").mkString(" ")
    val all = Seq(
      (0L, body, "en", "a", 1L),
      (1L, "some other words " + (1 to 30).map(i => s"q$i").mkString(" "), "en", "a", 1L),
      (10L, body, "en", "b", 1L),                       // batch: exact copy of 0
      (11L, "PREFIX " + body, "en", "b", 1L),           // batch: shifted copy
      (12L, body, "en", "b", 1L),                       // batch: copy of 0 AND of 10
      (13L, "fresh never seen words only here", "en", "b", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = all.filter(col("doc_id") < 10)
    val batch = all.filter(col("doc_id") >= 10)
    // full-run reference: per-source ledger cannot be compared directly
    // (different grain), so recompute the restriction by hand from the
    // incremental output's invariants instead:
    val incr = Dedup.cdcChunkDedupIncremental(Dedup.cdcChunkStore(corpus), batch)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // exact copies of a corpus doc dedup completely
    assert(incr(10L).getAs[Double]("dup_token_share") === 1.0)
    assert(incr(12L).getAs[Double]("dup_token_share") === 1.0)
    // batch doc 13 shares nothing
    assert(incr(13L).getAs[Long]("dup_chunks") === 0L)
    // shifted copy still dedups most of its mass against the corpus
    val c11 = incr(11L)
    assert(c11.getAs[Long]("dup_tokens") * 10 > c11.getAs[Long]("n_tokens") * 5)
    // the same state read back from a parquet chunk store
    val dir = tmpDir("cdc-incr") + "/chunks"
    Dedup.writeCdcChunkStore(corpus, dir)
    val viaStore = Dedup.cdcChunkDedupIncremental(spark.read.parquet(dir), batch)
      .collect().map(r => r.toSeq).toSet
    assert(viaStore === incr.values.map(_.toSeq).toSet)
  }

  test("fuzzy decontamination flags a re-worded near-copy of a benchmark doc, never corpus-internal pairs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearCopy = base.replace("w20", "CHANGED") // 1 of 40 words differs
    val loop = Seq.fill(12)("x y z").mkString(" ")
    val cdocs = Seq(
      (1L, nearCopy, "en", "web", 1L),
      (2L, loop, "en", "web", 1L),
      (3L, loop, "en", "web", 1L), // 2 and 3 duplicate EACH OTHER only
      (4L, "totally unrelated content here now", "en", "web", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val cbench = Seq((100L, base, "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Decontamination.contaminationMinhash(cdocs, cbench).collect()
    val pairs = out.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("bench_id"))).toSet
    assert(pairs.contains((1L, 100L)))
    // near-copy, not exact: jaccard strictly inside (0.2, 1.0)
    val j = out.find(r => r.getAs[Long]("doc_id") == 1L).get
      .getAs[Double]("jaccard")
    assert(j > 0.2 && j < 1.0)
    // the corpus-internal duplicate pair (2,3) must NOT be reported —
    // only candidate x benchmark collisions reach the verify
    assert(pairs.forall(_._2 == 100L))
    assert(!pairs.exists(p => Set(2L, 3L).contains(p._1)))
  }

  test("text stats + quality + fingerprint are deterministic and sane") {
    val ts = TextAnalysis.textStats(docs).filter(col("doc_id") === 4).collect()(0)
    assert(ts.getAs[Long]("n_tokens") === 2L)
    val q = TextAnalysis.qualityScore(docs).filter(col("doc_id") === 2).collect()(0)
    assert(q.getAs[Double]("diversity_score") === 1.0) // all distinct words
    val fp = TextAnalysis.fingerprint(docs).collect()
    assert(fp.map(_.getString(1)).distinct.length === 4) // docs 0 and 3 share a fp
  }

  test("quantized vector store yields identical ANN/near-dup output") {
    val emb = Seq(
      (0L, Array.fill(64)(0.5f), 0),
      (1L, Array.fill(64)(0.5f), 0),
      (100L, Array.tabulate(64)(i => 0.5f + (i % 3) * 0.01f), 0),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val store = tmpDir("qv-store") + "/qv"
    Embeddings.writeQuantizedStore(emb, store)
    val qv = Some(spark.read.parquet(store))
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val direct = Embeddings.dedupEmbedding(emb)
      .collect().map(_.toSeq).toSet
    val stored = Embeddings.dedupEmbedding(emb, precomputedQuantized = qv)
      .collect().map(_.toSeq).toSet
    assert(direct === stored)
    assert(direct.nonEmpty)
    val lshDirect = Embeddings.annLsh(emb, queries).collect().map(_.toSeq).toSet
    val lshStored = Embeddings.annLsh(emb, queries, precomputedQuantized = qv)
      .collect().map(_.toSeq).toSet
    assert(lshDirect === lshStored)
  }

  test("incremental embedding dedup equals the full run restricted to batch-touching pairs") {
    val emb = Seq(
      (0L, Array.fill(64)(0.5f), 0),
      (1L, Array.fill(64)(0.5f), 0),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f), 1),
      (10L, Array.tabulate(64)(i => 0.5f + (i % 3) * 0.01f), 0),
      (11L, Array.tabulate(64)(i => if (i % 2 == 0) -1.0f else 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val corpus = emb.filter(col("vec_id") < 10)
    val batch = emb.filter(col("vec_id") >= 10)
    val full = Embeddings.dedupEmbedding(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = full.filter { case (a, b) => a >= 10 || b >= 10 }
    val incr = Embeddings.dedupEmbeddingIncremental(
        Embeddings.quantizedIndex(corpus), batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr === wantPairs)
    // the corpus-internal pair (0,1) exists but must NOT be re-reported
    assert(full.contains((0L, 1L)) && !incr.contains((0L, 1L)))
    // the same state read back from parquet stores, banding off the
    // fingerprint store
    val dir = tmpDir("emb-incr")
    Embeddings.writeQuantizedStore(corpus, dir + "/qv")
    Embeddings.writeEmbFingerprintStore(corpus, dir + "/fp")
    val store = Embeddings.dedupEmbeddingIncremental(
        spark.read.parquet(dir + "/qv"), batch,
        corpusFingerprints = Some(spark.read.parquet(dir + "/fp"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(store === wantPairs)
  }

  test("repetition score flags looping text that novelty cannot see") {
    val reps = Seq(
      // "a b c" looped: 9 tokens, 7 total grams, 3 distinct -> 1 - 3/7
      (0L, "a b c a b c a b c", "en", "s0", 17L),
      (1L, "every word here is completely distinct from the others", "en", "s0", 54L),
      (2L, "so tiny", "en", "s0", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.repetitionScore(reps).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(math.abs(out(0L).getAs[Double]("repetition") - (1.0 - 3.0 / 7.0)) < 1e-4)
    assert(out(1L).getAs[Double]("repetition") === 0.0)
    assert(out(2L).isNullAt(out(2L).fieldIndex("repetition"))) // < 3 tokens
  }

  test("chunk passages: boundaries, tail chunk, and single-chunk docs") {
    val d = Seq(
      (0L, (0 until 12).map(i => s"t$i").mkString(" "), "en", "s0", 50L),
      (1L, "a b", "en", "s0", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.chunkPassages(d, window = 5, stride = 3).collect()
    val doc0 = out.filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // 12 tokens, w=5, s=3: ceil((12-5)/3)+1 = 4 chunks; starts 0,3,6,9;
    // the last keeps its 3-token tail
    assert(doc0.toSeq === Seq((0L, 0L, 5L), (1L, 3L, 5L), (2L, 6L, 5L), (3L, 9L, 3L)))
    // every token index is inside some [start, start+len) window
    assert((0 until 12).forall(i => doc0.exists(c => i >= c._2 && i < c._2 + c._3)))
    // a doc shorter than the window is exactly one whole-doc chunk
    val doc1 = out.filter(_.getLong(0) == 1L)
    assert(doc1.length === 1 &&
      doc1(0).getLong(2) === 0L && doc1(0).getLong(3) === 2L)
  }

  test("vocab top-k ranks by count with alphabetical tie-break") {
    val d = Seq(
      (0L, "a b a", "en", "s0", 5L),
      (1L, "b a", "en", "s0", 3L),
      (2L, "c", "en", "s1", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.vocabTopk(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, "a", 3L, 2L), (2L, "b", 2L, 2L)))
  }

  test("mix resample: fixed-point copy counts are deterministic and exact") {
    // fixture sources: s0 = {0,1} = 28 tokens, s1 = {2} = 10,
    // s2 = {3} = 14, s3 = {4} = 2; total 54, k = 4. Fixed-point weights
    // w4 = 540000 div (4 * toks): s0 = 4821, s1 = 13500, s2 = 9642,
    // s3 = 67500. md5 buckets: doc0 = 6916, doc1 = 9560, doc2 = 8605,
    // doc3 = 8110, doc4 = 8457 — so copies are exactly: doc0/doc1
    // dropped (6916, 9560 >= 4821), doc2 1x, doc3 1x (8110 < 9642),
    // doc4 6x (floor only; 8457 >= 7500).
    val out = Sampling.mixResample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.count(_._1 == 0L) === 0)
    assert(out.count(_._1 == 1L) === 0)
    assert(out.count(_._1 == 2L) === 1)
    assert(out.count(_._1 == 3L) === 1)
    val doc4 = out.filter(_._1 == 4L)
    assert(doc4.length === 6)
    assert(doc4.forall(_._4 === 6L)) // n_copies column
    assert(doc4.map(_._3).sorted.toSeq === (0L to 5L)) // contiguous copy_idx
    // deterministic across runs
    assert(Sampling.mixResample(docs).collect().toSeq ===
      Sampling.mixResample(docs).collect().toSeq)
  }

  test("passage dedup counts corpus-wide repeated spans, first occurrence original") {
    val d = Seq(
      (0L, "a b c d e f g h i j"), // chunks [a..e] [f..j]
      (1L, "a b c d e x y z w v"), // [a..e] duplicates doc 0's first chunk
      (2L, "q r s")                // one short chunk, unique
    ).toDF("doc_id", "text")
    val out = TextAnalysis.passageDedup(d, window = 5, stride = 5).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) === ((2L, 0L, 0.0)))   // original occurrences only
    assert(out(1L) === ((2L, 1L, 0.5)))   // half the doc is a repeated span
    assert(out(2L) === ((1L, 0L, 0.0)))
  }

  test("pmi lift ranks the always-together bigram above independent pairs") {
    import spark.implicits._
    // "x y" always co-occur (5 times); "p"/"q" appear often but never adjacent
    val d = Seq(
      (0L, "x y p q p x y q p q x y p p q q x y p q q p x y", "en", "s0", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.pmiTerms(d, minCount = 5, k = 10).collect()
    val top = out.head
    assert((top.getAs[String]("w1"), top.getAs[String]("w2")) === (("x", "y")))
    assert(top.getAs[Long]("c_xy") === 5L)
    // lift("x","y") = (5/23) / ((5/24)*(5/24)) = 5.0087 at 4 decimals
    assert(top.getAs[Double]("lift") === 5.0087)
  }

  test("quality rules ledger: hand fixture trips exactly the planted rules") {
    import spark.implicits._
    val fix = Seq(
      // 40 distinct-ish tokens incl. 'the' twice: trips nothing
      (0L, ("the alpha " * 2 + (1 to 36).map(i => s"w$i").mkString(" ")).trim, "en", "s0", 250L),
      // 5 tokens -> short; no stopwords -> stop_low
      (1L, "one two three four five", "en", "s0", 23L),
      // 'x ' * 40 -> repeat (1 distinct / 40) + short? no (40 tokens) -> stop_low too
      (2L, ("x " * 40).trim, "en", "s0", 79L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.qualityRules(fix).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("docs_flagged")).toMap
    assert(out("short") === 1L)
    assert(out("repeat") === 1L)
    assert(out("stop_low") === 2L)
    assert(out("symbol") === 0L)
    assert(out("any") === 2L)
  }

  test("lexical rarity weights tokens by corpus-frequency digits, counts hapaxes") {
    val d = Seq(
      (0L, "a a a a a a a a a a"), // 10 of corpus total 12 'a'
      (1L, "a a b")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lexicalRarity(d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // corpus counts: a=12 (2 digits), b=1 (1 digit, hapax)
    assert(out(0L) === ((10L, 0L, 2.0, 0.0)))
    assert(out(1L) === ((3L, 1L, 1.6667, 0.3333))) // (2+2+1)/3, 1/3
  }

  test("corpus report is one exact summary row") {
    val row = TextAnalysis.corpusReport(docs).collect()(0)
    assert(row.getAs[Long]("n_docs") === 5L)
    assert(row.getAs[Long]("total_tokens") === 54L) // 14+14+10+14+2
    assert(row.getAs[Long]("n_langs") === 1L)
    assert(row.getAs[Long]("n_sources") === 4L)
    assert(row.getAs[Long]("dup_docs") === 1L) // doc 3 repeats doc 0's text
    assert(row.getAs[Double]("mean_tokens") === 10.8)
  }

  test("trained IVF codebook lifts probe recall on clustered embeddings") {
    // 4 well-separated clusters x 40 members in 64 dims: cluster c is
    // strong on dims [16c, 16c+16) plus a small deterministic
    // perturbation (no randomness — the test is exactly repeatable)
    val vecs = for (c <- 0 until 4; j <- 0 until 40) yield {
      val v = Array.tabulate(64) { d =>
        val base = if (d / 16 == c) 1.0f else 0.0f
        base + (((c * 40 + j) * 31 + d * 7) % 11 - 5) * 0.02f
      }
      (c * 40L + j, v, s"c$c")
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val queries = emb.filter(col("vec_id") % 40 === 0) // one per cluster

    def recall(df: org.apache.spark.sql.DataFrame, truth: Set[(Long, Long)]): Double = {
      val got = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val truth = Embeddings.annTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size === 40)

    val trained = Embeddings.trainCentroids(emb, numCentroids = 8, iters = 3)
    assert(trained.count() === 8) // empty clusters keep their centroid

    // the k-means objective itself: mean best-cosine of every vector
    // to the codebook must IMPROVE over the raw hash-sampled seeds
    // (iters = 0 returns exactly the seed codebook annIvf defaults to)
    val seeds = Embeddings.trainCentroids(emb, numCentroids = 8, iters = 0)
    def quality(cb: org.apache.spark.sql.DataFrame): Double = {
      val cents = cb.select("qarr_a").collect()
        .map(_.getSeq[Long](0).toArray)
      def cos(a: Array[Long], b: Array[Long]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i)
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val qvecs = vecs.map(_._2.map(x => math.floor(x * 1000 + 0.5).toLong))
      qvecs.map(v => cents.map(c => cos(v, c)).max).sum / qvecs.size
    }
    val (qSeed, qTrained) = (quality(seeds), quality(trained))
    info(s"codebook quality: seed $qSeed, trained $qTrained")
    assert(qTrained > qSeed)

    // and probing with the trained codebook keeps recall at least as
    // good, with a hard absolute bar at the tightest probe budget
    for (np <- Seq(1, 2)) {
      val s = recall(
        Embeddings.annIvf(emb, queries, k = 10, nprobe = np, numCentroids = 8), truth)
      val t = recall(
        Embeddings.annIvf(emb, queries, k = 10, nprobe = np,
          trainedCentroids = Some(trained)), truth)
      info(s"nprobe=$np seed recall $s, trained recall $t")
      assert(t >= s)
      assert(t >= 0.9)
    }
    // training is deterministic: a second run yields the same codebook
    val again = Embeddings.trainCentroids(emb, numCentroids = 8, iters = 3)
    assert(trained.orderBy("cent_id").collect().toSeq ===
      again.orderBy("cent_id").collect().toSeq)
  }

  test("knn graph + mutual components recover planted semantic groups") {
    // 3 groups x 3 near-identical vectors (tiny deterministic jitter),
    // well-separated directions — mutual-kNN must recover exactly the
    // planted groups and nothing across them
    val vecs = for (g <- 0 until 3; j <- 0 until 3) yield {
      val v = Array.tabulate(64) { d =>
        val base = if (d / 21 == g) 1.0f else 0.0f
        base + (((g * 3 + j) * 13 + d * 5) % 7 - 3) * 0.01f
      }
      (g * 10L + j, v, s"g$g")
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    // numCentroids = 1: one cell = the full graph (at 9 vectors the
    // default 32-centroid quantizer makes every vector its own
    // singleton cell — the K ≈ √N sizing guidance, degenerately)
    val g = Embeddings.knnGraph(emb, k = 2, numCentroids = 1)
    val rows = g.collect()
    assert(rows.length === 9 * 2)
    // every vector gets exactly k neighbors (cells hold >= 3 members
    // here only if groups share a cell — in any case its OWN group's
    // other two rank first at cosine ~1)
    val byVec = rows.groupBy(_.getAs[Long]("vec_id"))
    for ((v, ns) <- byVec) {
      val top = ns.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id"))
      assert(top.take(2).toSet === (Set(0L, 1L, 2L).map(_ + (v / 10) * 10) - v),
        s"vec $v got ${top.toSeq}")
    }
    val clusters = Embeddings.semanticClusters(emb, k = 2, minCosine = 0.9,
        numCentroids = 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toMap
    assert(clusters.keySet === vecs.map(_._1).toSet)
    for ((v, (cid, sz)) <- clusters) {
      assert(cid === (v / 10) * 10) // min id of the planted group
      assert(sz === 3L)
    }
  }

  test("PQ ANN approximates exact top-k on clustered embeddings") {
    // same deterministic 4-cluster fixture as the IVF test
    val vecs = for (c <- 0 until 4; j <- 0 until 40) yield {
      val v = Array.tabulate(64) { d =>
        val base = if (d / 16 == c) 1.0f else 0.0f
        base + (((c * 40 + j) * 31 + d * 7) % 11 - 5) * 0.02f
      }
      (c * 40L + j, v, s"c$c")
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val queries = emb.filter(col("vec_id") % 40 === 0)

    val truth = Embeddings.annTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Embeddings.annPq(emb, queries, k = 10)
    val rows = pq.collect()
    // exactly k hits per query, none of them the query itself
    assert(rows.length === 40)
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("vec_id")))
    // Coarse correctness: with well-separated clusters, ADC over 16x
    // compressed codes must NEVER cross a cluster boundary — every hit
    // lives in the query's own cluster. (Fine intra-cluster ordering
    // is exactly what 16 codes cannot resolve: the cluster-mates
    // differ only in the ±0.1 perturbation, below quantization
    // granularity — so set the pairwise-recall bar accordingly.)
    assert(rows.forall(r =>
      r.getAs[Long]("vec_id") / 40 === r.getAs[Long]("query_id") / 40))
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(s"PQ recall@10 vs exact: $recall")
    assert(recall >= 0.45)
    // the exact-cosine column is the true similarity: for every hit it
    // must match annTopK's value semantics (>= lowest true top-k score
    // minus PQ error is not guaranteed, but the column itself must be
    // the exact cosine — cross-checked for one known pair)
    val sample = rows.filter(r => r.getAs[Long]("query_id") == 0L)
    assert(sample.forall { r =>
      val c = r.getAs[Double]("cosine"); c >= -1.0 && c <= 1.0
    })
    // determinism: a second run is byte-identical
    assert(pq.collect().toSeq === rows.toSeq)
  }

  test("pii scrub redacts emails, IPs, and phones with exact counts") {
    val d = Seq(
      (0L, "contact alice.smith+dev@example.co.uk or bob@test.org today", "en", "s0", 60L),
      (1L, "server 10.0.42.7 and 192.168.1.255 are up", "en", "s0", 41L),
      (2L, "call +1 (555) 123-4567 or 020 7946 0958 now", "en", "s0", 43L),
      (3L, "mail root@10.0.0.1.example.com from 8.8.8.8", "en", "s0", 43L),
      (4L, "no sensitive content here at all", "en", "s0", 32L),
      // phone-shaped ONLY: structure required, bare digit runs ignored
      (5L, "epoch 1700000000000 id 123e4567-e89b-12d3-a456-426614174000", "en", "s0", 60L),
      (6L, "isbn 978-3-16-148410-0 date 2026-08-12 order 12345678", "en", "s0", 54L),
      (7L, "dial +15551234567 or +49 170 1234567 then 555 123 4567", "en", "s0", 55L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.piiScrub(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows(0L) === ((2L, 0L, 0L)))
    assert(rows(1L) === ((0L, 2L, 0L)))
    assert(rows(2L) === ((0L, 0L, 2L)))
    // doc 3: the email regex eats "root@10.0.0.1.example.com" (digits
    // included), so only 8.8.8.8 remains to count as an IP — the
    // successive-redaction contract
    assert(rows(3L) === ((1L, 1L, 0L)))
    assert(rows(4L) === ((0L, 0L, 0L)))
    // epoch millis, UUID segments, ISBN groups, ISO dates, and bare
    // order ids must NOT be redacted as phones (the over-match class)
    assert(rows(5L) === ((0L, 0L, 0L)))
    assert(rows(6L) === ((0L, 0L, 0L)))
    // international +run, cc + separated groups, and 3-3-4 all redact
    assert(rows(7L) === ((0L, 0L, 3L)))
    // clean text of doc 4 is untouched: fp equals md5 of the original
    val fp = TextAnalysis.piiScrub(d).filter(col("doc_id") === 4L)
      .select("clean_fp").collect()(0).getString(0)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("no sensitive content here at all".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(fp === md)
  }

  test("encoding quality flags control chars and replacement chars, skips tab/newline/CR") {
    val d = Seq(
      (0L, "perfectly clean text", "en", "s0", 20L),
      // tab, newline, CR are LEGITIMATE whitespace — not control junk
      (1L, "tabs\tand\nnewlines\rok", "en", "s0", 20L),
      // C0 controls + DEL: binary-decoded-as-text signature
      (2L, "bin\u0001ary\u0002junk\u007f", "en", "s0", 13L),
      // U+FFFD: wrong-charset decode signature
      (3L, "mojibake \uFFFD here \uFFFD", "en", "s0", 16L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.encodingQuality(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(rows(0L) === ((0L, 0L, 1L)))
    assert(rows(1L) === ((0L, 0L, 1L)))
    assert(rows(2L) === ((3L, 0L, 0L)))
    assert(rows(3L) === ((0L, 2L, 0L)))
  }

  test("vocab coverage curve: cutoffs beyond the vocab degrade to full coverage") {
    // 6-term corpus: "a" x4, "b" x3, "c" x2, d/e/f x1 -> 12 occurrences
    val d = Seq(
      (0L, "a a a a b", "en", "s0", 9L),
      (1L, "b b c c d", "en", "s0", 9L),
      (2L, "e f", "en", "s0", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.vocabCoverageCurve(d, ks = Seq(2, 4, 100))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // top-2 = {a:4, b:3} -> 7 of 12; top-4 adds {c:2, d:1} -> 10
    assert(rows(2L) === ((7L, 12L, 6L)))
    assert(rows(4L) === ((10L, 12L, 6L)))
    // k=100 > |vocab|=6: full coverage, row present
    assert(rows(100L) === ((12L, 12L, 6L)))
  }

  test("cluster sizes histogram: hand graph with one triangle and one pair") {
    // edges: 0-1, 1-3 (triangle-ish chain -> one component {0,1,3}),
    // plus 10-11 -> component sizes 3 and 2
    val pairs = Seq((0L, 1L), (1L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val hist = Clustering.clusterSizes(docs, precomputedPairs = Some(pairs))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(hist === Map(2L -> (1L, 1L), 3L -> (1L, 2L)))
  }

  test("dup source matrix rolls verified pairs up by source pair with population rates") {
    // docs fixture: 0~1 (s0,s0), 0~3 identical (s0,s2), 1~3 (s0,s2)
    val m = Dedup.dupSourceMatrix(docs, maxDf = 20)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("docs_a"),
          r.getAs[Long]("docs_b"), r.getAs[Double]("pair_rate")))).toMap
    val (n00, da00, _, rate00) = m(("s0", "s0"))
    assert(n00 === 1L && da00 === 2L && rate00 === 1.0) // 1 pair / C(2,2)
    val (n02, _, db02, rate02) = m(("s0", "s2"))
    assert(n02 === 2L && db02 === 1L && rate02 === 1.0) // 2 pairs / (2*1)
    assert(!m.contains(("s1", "s1"))) // unrelated source never appears
  }

  test("ann recall is 1.0 when LSH verification recovers the whole truth set") {
    // two clusters of near-identical vectors: LSH buckets keep each
    // query with its own cluster, and the verify threshold keeps the
    // true neighbors -> recall 1.0 for the bounded query sample
    val base = Array.tabulate(64)(i => 0.5 + 0.01 * (i % 7))
    val vecs = (0 until 8).map { v =>
      val arr = base.map(x => (x + 0.001 * v).toFloat)
      (v.toLong, arr.toSeq, 0)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val out = Embeddings.annRecall(emb, emb.filter(col("vec_id") === 0), k = 5)
      .collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("truth_k") === 5L)
    assert(out(0).getAs[Double]("recall_at_k") === 1.0)
  }

  test("source-lang mix shares sum to 1 within each source") {
    val cells = Sampling.sourceLangMix(docs).collect()
    val bySource = cells.groupBy(_.getString(0))
    for ((_, rows) <- bySource)
      assert(math.abs(rows.map(_.getAs[Double]("share_in_source")).sum - 1.0) < 1e-3)
  }

  test("quality sweep survival is monotone and ends at the full corpus") {
    val rows = Sampling.splitAssign(docs) // touch Sampling to keep import; real assert below
    assert(rows.count() === 5)
    val sweep = TextAnalysis.qualitySweep(docs).collect()
    val cum = sweep.map(_.getAs[Long]("cum_docs"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b }) // descending buckets accumulate
    assert(cum.last === 5L)
    assert(sweep.map(_.getAs[Long]("n_docs")).sum === 5L)
  }

  test("topic clusters: membership conserved, bounds sane, run deterministic") {
    import spark.implicits._
    // two orthogonal modes, 8 vectors each, 64 dims, small per-id jitter
    val vecs = (0L until 16L).map { id =>
      val mode = (id % 2).toInt
      val base = Array.fill(64)(0.0f)
      base(mode * 10) = 1.0f
      base((id % 5).toInt + 20 + mode * 8) = 0.1f
      (id, base.toSeq, mode)
    }.toDF("vec_id", "embedding", "label")
    val out = Embeddings.topicClusters(vecs, k = 2).collect()
    assert(out.length <= 2)
    assert(out.map(_.getAs[Long]("n_members")).sum === 16L)
    out.foreach { r =>
      val avg = r.getAs[Double]("avg_label")
      assert(avg >= 0.0 && avg <= 1.0, r.toString)
      assert(r.getAs[Double]("min_cosine") <= r.getAs[Double]("max_cosine"))
    }
    val again = Embeddings.topicClusters(vecs, k = 2).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("lexical-vs-embedding: identical text with identical vectors gives zero gap") {
    import spark.implicits._
    val vec = Seq.fill(64)(0.5f)
    val other = (0 until 64).map(i => if (i % 2 == 0) 0.9f else -0.1f)
    val embs = Seq((0L, vec, 0), (1L, vec, 0), (3L, other.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
    val pairDocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "s0", 70L),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "s0", 70L),
      (3L, "completely different content about spark data processing at massive scale", "en", "s1", 74L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Embeddings.lexicalVsEmbedding(pairDocs, embs).collect()
    assert(out.length === 1) // only (0,1) is a verified near-dup pair
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) === ((0L, 1L)))
    assert(r.getAs[Double]("jaccard") === 1.0)
    assert(r.getAs[Double]("cosine") === 1.0)
    assert(r.getAs[Double]("gap") === 0.0)
  }

  test("embedding label stats: dispersion is zero for identical vectors") {
    val arr = Array.tabulate(64)(i => (0.1f * (i % 5)))
    val emb = (0 until 4).map(v => (v.toLong, arr.toSeq, 7))
      .toDF("vec_id", "embedding", "label")
    val row = Embeddings.labelStats(emb).collect()(0)
    assert(row.getAs[Long]("label") === 7L)
    assert(row.getAs[Long]("n_vecs") === 4L)
    assert(row.getAs[Double]("dispersion") === 0.0)
    assert(math.abs(row.getAs[Double]("mean_norm_sq")
      - row.getAs[Double]("centroid_norm_sq")) < 1e-9)
  }

  test("pack stats ledger conserves tokens and matches the assignment") {
    val packed = Sampling.shardPack(docs, budgetTokens = 10L).collect()
    val ledger = Sampling.packStats(docs, budgetTokens = 10L).collect()
    assert(ledger.map(_.getAs[Long]("shard_tokens")).sum ===
      packed.map(_.getAs[Long]("n_tok")).sum)
    assert(ledger.map(_.getAs[Long]("n_docs")).sum === packed.length.toLong)
    // every ledger row really exists in the assignment
    val shards = packed.map(r => (r.getAs[Long]("writer"), r.getAs[Long]("shard_idx"))).toSet
    assert(ledger.map(r => (r.getAs[Long]("writer"), r.getAs[Long]("shard_idx"))).toSet === shards)
  }

  test("seq pack conserves tokens; every non-last window per lane is exactly full") {
    // seqLen=8 forces docs (14/14/10/14/2 tokens) to cross window cuts
    val packed = Sampling.seqPack(docs, seqLen = 8L).collect()
    val totalTok = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .head.getLong(0)
    assert(packed.map(_.getAs[Long]("n_tokens")).sum === totalTok)
    // every doc BEGINS in exactly one window
    assert(packed.map(_.getAs[Long]("n_starts")).sum === docs.count())
    // within a lane, all windows but the last carry exactly seqLen
    // tokens and window ids are dense from 0
    packed.groupBy(_.getAs[Long]("writer")).foreach { case (_, rows) =>
      val byIdx = rows.sortBy(_.getAs[Long]("seq_idx"))
      assert(byIdx.map(_.getAs[Long]("seq_idx")).toSeq ===
        (0L until byIdx.length.toLong).toSeq)
      byIdx.dropRight(1).foreach(r => assert(r.getAs[Long]("n_tokens") === 8L))
      assert(byIdx.last.getAs[Long]("n_tokens") <= 8L)
    }
  }

  test("length quantiles: nearest-rank picks on a hand fixture") {
    val q = TextAnalysis.lengthQuantiles(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // s3 holds only "tiny doc" (2 tokens): every statistic collapses to it
    val s3 = q("s3")
    assert(s3.getAs[Long]("n_docs") === 1L)
    for (c <- Seq("min_tokens", "p25_tokens", "p50_tokens", "p90_tokens", "max_tokens"))
      assert(s3.getAs[Long](c) === 2L, c)
    // s0 holds docs 0 and 1 (14 tokens each)
    val s0 = q("s0")
    assert(s0.getAs[Long]("n_docs") === 2L)
    assert(s0.getAs[Long]("p50_tokens") === 14L)
    assert(s0.getAs[Long]("total_tokens") === 28L)
  }

  test("curate corpus: manifest holds exactly the quality+dedup survivors, each packed once") {
    val manifest = Curation.curateCorpus(docs, minQuality = 0.0).collect()
    // minQuality 0 -> quality gate keeps everything; doc 3 (exact dup
    // of 0) is dropped by stage 2; docs 1 (near-dup of 0 in the same
    // cluster) is dropped by stage 3's min-label survivor rule
    val ids = manifest.map(_.getLong(0)).toSet
    assert(ids === Set(0L, 2L, 4L))
    // every surviving row carries a complete, consistent assignment
    for (r <- manifest) {
      assert(Set("train", "val", "test").contains(r.getAs[String]("split")))
      assert(r.getAs[Long]("shard_idx") >= 0L)
      assert(r.getAs[Long]("n_tok") > 0L)
    }
    // split/pack agree with the standalone operators on the same set
    val surv = docs.filter(col("doc_id").isin(0L, 2L, 4L))
    val wantSplit = Sampling.splitAssign(surv).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(manifest.map(r => r.getLong(0) -> r.getAs[String]("split")).toMap === wantSplit)
  }

  test("curate corpus plan: no cartesian, quality filter fused before any exchange") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the survivor ids and the near-dup joins are pinned mid-operator:
    // audit every plan that executed, and first show the quality gate
    // and the joins are among them. Parquet-backed input: over a local
    // fixture the optimizer folds the gate into the LocalRelation and
    // no Filter ever executes.
    val dir = tmpDir("curate-audit") + "/docs"
    docs.write.parquet(dir)
    val (_, plans) = executedPlans(Curation.curateCorpus(spark.read.parquet(dir)))
    val p = plans.mkString("\n")
    val gates = plans.flatMap(_.collect {
      case f: FilterExec if f.condition.sql.contains(">= 0.6") => f
    })
    assert(gates.nonEmpty, p)
    assert(plans.exists(_.exists(_.isInstanceOf[BaseJoinExec])), p)
    gates.foreach(g => assert(!g.exists(_.isInstanceOf[Exchange]), g.toString))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pinned operators leave no CacheManager entry behind") {
    // the "nothing cached outlives the call" contract of the pin
    // brackets: each operator caches only inside its own bracket
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val sf = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 2000)
    val cands = Seq((0L, 1L), (0L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "withDetectorPairSets (dedupTokenSavings)" -> (() => Dedup.dedupTokenSavings(docs)),
      "pinnedVerify" -> (() => Dedup.pinnedVerify(cands, Dedup.shingles(docs)) {
        (c, touched) => Dedup.withJaccard(c, touched, restrict = false) }),
      "withJaccard" -> (() => Dedup.withJaccard(cands, Dedup.shingles(docs))),
      "cdcChunkDedupIncremental" -> (() => Dedup.cdcChunkDedupIncremental(
        Dedup.cdcChunkStore(corpus.filter(col("doc_id") < 400)),
        corpus.filter(col("doc_id") >= 400))),
      "componentsAuto" -> (() => Clustering.componentsAuto(cands)),
      "knnPagerank" -> (() => Embeddings.knnPagerank(emb)),
      "matryoshkaRecall" -> (() => Embeddings.matryoshkaRecall(emb, queries)),
      "bqRecall" -> (() => Embeddings.bqRecall(emb, queries)),
      "int8Recall" -> (() => Embeddings.int8Recall(emb, queries)))
    val leaks = ops.filter { case (_, op) =>
      spark.catalog.clearCache()
      op().collect()
      !cache.isEmpty
    }.map(_._1)
    assert(leaks.isEmpty, s"cached relations left behind by: ${leaks.mkString(", ")}")
  }

  test("multimodal stub features are pure functions of payload bytes") {
    val f = Multimodal.multimodalFeatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(f(0L).getAs[Long]("byte_len") ===
      "the quick brown fox jumps over the lazy dog near the river bank today".length.toLong)
    assert(f(0L).getAs[Long]("feature_crc") === f(3L).getAs[Long]("feature_crc"))
    assert(f(0L).getAs[Long]("feature_crc") !== f(2L).getAs[Long]("feature_crc"))
    assert(f(4L).getAs[String]("modality") === "audio") // 4 % 3 == 1
  }

  test("span dedup: coverage merges overlapping windows, near-identical doc loses only its novel tail") {
    // docs fixture: 0 and 3 identical (14 tokens, every 5-gram shared),
    // 1 differs in the last token only (grams 0..8 shared, gram 9
    // unique -> tokens 0..12 covered), 2 and 4 share nothing
    val out = TextAnalysis.spanDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (d <- Seq(0L, 3L)) {
      assert(out(d).getAs[Long]("n_tokens") === 14L)
      assert(out(d).getAs[Long]("dup_spans") === 1L)
      assert(out(d).getAs[Long]("dup_tokens") === 14L)
      assert(out(d).getAs[Long]("max_span_tokens") === 14L)
      assert(out(d).getAs[Double]("dup_ratio") === 1.0)
    }
    assert(out(1L).getAs[Long]("dup_spans") === 1L)
    assert(out(1L).getAs[Long]("dup_tokens") === 13L)
    assert(out(1L).getAs[Long]("max_span_tokens") === 13L)
    assert(out(1L).getAs[Double]("dup_ratio") === 0.9286)
    for (d <- Seq(2L, 4L)) {
      assert(out(d).getAs[Long]("dup_spans") === 0L)
      assert(out(d).getAs[Long]("dup_tokens") === 0L)
      assert(out(d).getAs[Double]("dup_ratio") === 0.0)
    }
  }

  test("span dedup counts within-document self-repetition and keeps disjoint spans separate") {
    import spark.implicits._
    // "a b c d e" repeats at positions 0 and 6 (gap token x at 5):
    // two disjoint 5-token spans, NOT one 11-token span
    val selfRep = Seq((0L, "a b c d e x a b c d e")).toDF("doc_id", "text")
    val r = TextAnalysis.spanDedup(selfRep).collect().head
    assert(r.getAs[Long]("n_tokens") === 11L)
    assert(r.getAs[Long]("dup_spans") === 2L)
    assert(r.getAs[Long]("dup_tokens") === 10L)
    assert(r.getAs[Long]("max_span_tokens") === 5L)
  }

  test("lm surprisal: integer log2 buckets match hand-computed bigram MLE bits") {
    import spark.implicits._
    // corpus: c1(a)=3, c1(b)=2; c2("a a")=1, c2("a b")=2
    // doc 0: "a a" -> floor(log2(3/1))=1, "a b" -> floor(log2(3/2))=0
    // doc 1: "a b" -> 0; doc 2: single token, no bigrams
    val lm = Seq((0L, "a a b"), (1L, "a b"), (2L, "z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmSurprisal(lm).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_bigrams") === 2L)
    assert(out(0L).getAs[Long]("surprisal_bits") === 1L)
    assert(out(0L).getAs[Double]("avg_surprisal") === 0.5)
    assert(out(1L).getAs[Long]("n_bigrams") === 1L)
    assert(out(1L).getAs[Long]("surprisal_bits") === 0L)
    assert(out(2L).getAs[Long]("n_bigrams") === 0L)
    assert(out(2L).getAs[Double]("avg_surprisal") === 0.0)
  }

  test("span trim: long duplicated spans trimmed, short incidental repeats kept") {
    import spark.implicits._
    // docs 10/11 share a 12-token prefix (one >= 8 span, trimmed);
    // doc 12 self-repeats a 5-token run (one 10-token... no: two
    // disjoint 5-token spans, both < 8, kept)
    val fixture = Seq(
      (10L, "a b c d e f g h i j k l unique1 tail1 x1"),
      (11L, "a b c d e f g h i j k l unique2 tail2 y2"),
      (12L, "p q r s t gap p q r s t")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.spanTrim(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (d <- Seq(10L, 11L)) {
      assert(out(d).getAs[Long]("n_tokens") === 15L)
      assert(out(d).getAs[Long]("trimmed_spans") === 1L)
      assert(out(d).getAs[Long]("trimmed_tokens") === 12L)
      assert(out(d).getAs[Long]("kept_tokens") === 3L)
      assert(out(d).getAs[Double]("kept_ratio") === 0.2)
    }
    assert(out(12L).getAs[Long]("trimmed_spans") === 0L)
    assert(out(12L).getAs[Long]("trimmed_tokens") === 0L)
    assert(out(12L).getAs[Long]("kept_tokens") === 11L)
    // same fixture through spanDedup: doc 12's repeats ARE dup spans
    val dd = TextAnalysis.spanDedup(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(dd(12L).getAs[Long]("dup_spans") === 2L)
    assert(dd(12L).getAs[Long]("dup_tokens") === 10L)
  }

  test("incremental span dedup is bit-identical to the full run restricted to the batch") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "a b c d e f g h i j"), // corpus-internal dup of 0
      (2L, "k l m n o p q r s t")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (400L, "a b c d e u v w x y"),  // 5-gram "a b c d e" dups vs corpus
      (401L, "k l m n o p q r s t"),  // verbatim corpus dup
      (402L, "z1 z2 z3 z4 z5 z6 z7")  // novel
    ).toDF("doc_id", "text")
    val full = TextAnalysis.spanDedup(corpus.unionByName(batch))
      .filter(col("doc_id") >= 400).collect().map(_.toSeq)
    val counts = TextAnalysis.spanGramCounts(corpus)
    val incr = TextAnalysis.spanDedupIncremental(counts, batch)
      .collect().map(_.toSeq)
    assert(incr.toSeq === full.toSeq)
    // counts from split append-only deltas (SUM-folded) — same result
    val deltas = TextAnalysis.spanGramCounts(corpus.filter(col("doc_id") < 2))
      .unionByName(TextAnalysis.spanGramCounts(corpus.filter(col("doc_id") >= 2)))
    val store = TextAnalysis.spanDedupIncremental(deltas, batch)
      .collect().map(_.toSeq)
    assert(store.toSeq === full.toSeq)
    // batch-internal duplication alone must also count: two identical
    // batch docs vs a disjoint corpus
    val selfBatch = Seq((410L, "m1 m2 m3 m4 m5 tail1"), (411L, "m1 m2 m3 m4 m5 tail2"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.spanDedupIncremental(counts, selfBatch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    assert(out === Map(410L -> 5L, 411L -> 5L))
  }

  test("surprisal buckets: tertile rule on the histogram matches the rank rule, ties share a bucket") {
    import spark.implicits._
    // one lang, 4 docs; under the bigram MLE docs 0 and 3 both score
    // 0 bits (every transition deterministic given its head — doc 3's
    // heads are singletons, so p(w2|w1) = 1), doc 1 has one 4-bit
    // transition (avg_milli 571), doc 2 two (avg_milli 1142).
    // Tertile rule on the histogram: value 0 (2 docs, 0 below) ->
    // bucket 0; 571 (2 below) -> 6 div 4 = 1; 1142 (3 below) -> 2
    val base = Seq(
      (0L, "w w w w w w w w", "en"),
      (1L, "w w w w w w w rare1", "en"),
      (2L, "w w w w rare2 w rare3 w", "en"),
      (3L, "rare4 rare5 rare6 rare7", "en")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.surprisalBuckets(base).collect()
    assert(out.map(_.getAs[Long]("bucket")).toSeq === Seq(0L, 1L, 2L))
    assert(out.map(_.getAs[Long]("n_docs")).toSeq === Seq(2L, 1L, 1L))
    // min/max ranges are disjoint and increasing across buckets
    val ranges = out.map(r =>
      (r.getAs[Long]("min_avg_milli"), r.getAs[Long]("max_avg_milli")))
    assert(ranges.forall { case (lo, hi) => lo <= hi })
    assert(ranges.sliding(2).forall { case Array((_, h), (l, _)) => h < l })
    // identical docs can never split across buckets
    val tied = Seq(
      (0L, "x y", "de"), (1L, "x y", "de"), (2L, "x y", "de"))
      .toDF("doc_id", "text", "lang")
    val t = TextAnalysis.surprisalBuckets(tied).collect()
    assert(t.length === 1 && t.head.getAs[Long]("n_docs") === 3L)
    assert(t.head.getAs[Long]("bucket") === 0L)
  }

  test("dsir weights: hand-computed smoothed unigram LLR, negative for off-target docs") {
    import spark.implicits._
    // T_raw=6, T_tgt(en)=4; c_raw: a=3 b=2 c=1; c_tgt: a=2 b=2 c=0
    // bits(T,c)=floor(log2(T//(c+1))): raw a=0 b=1 c=1; tgt a=0 b=0 c=2
    // llr per occurrence: a=0, b=+1, c=-1
    val mixed = Seq((0L, "a a b", "en"), (1L, "a c", "fr"), (2L, "b", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.dsirWeights(mixed).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("llr_bits") === 1L)
    assert(out(0L).getAs[Double]("avg_llr") === 0.3333)
    assert(out(1L).getAs[Long]("llr_bits") === -1L)
    assert(out(1L).getAs[Double]("avg_llr") === -0.5)
    assert(out(2L).getAs[Long]("llr_bits") === 1L)
    assert(out(2L).getAs[Double]("avg_llr") === 1.0)
  }

  test("dsir select: histogram cutoff keeps the top fraction, ties keep the whole group") {
    import spark.implicits._
    // same corpus as the dsir weights test: llr_bits doc0=+1 (n=3),
    // doc1=-1 (n=2), doc2=+1 (n=1) -> shifted keys 63333, 62500, 64000
    val mixed = Seq((0L, "a a b", "en"), (1L, "a c", "fr"), (2L, "b", "en"))
      .toDF("doc_id", "text", "lang")
    def byLang(keepPct: Int) =
      TextAnalysis.dsirSelect(mixed, keepPct = keepPct).collect()
        .map(r => r.getAs[String]("lang") -> r).toMap
    // target (3*34) div 100 = 1 -> only the top key group (doc 2)
    val k34 = byLang(34)
    assert(k34("en").getAs[Long]("n_kept") === 1L)
    assert(k34("fr").getAs[Long]("n_kept") === 0L)
    assert(k34("en").getAs[Long]("n_docs") === 2L)
    // target (3*67) div 100 = 2 -> keys 64000 and 63333 (docs 2, 0)
    val k67 = byLang(67)
    assert(k67("en").getAs[Long]("n_kept") === 2L)
    assert(k67("en").getAs[Double]("kept_frac") === 1.0)
    assert(k67("fr").getAs[Long]("n_kept") === 0L)
    // target (3*25) div 100 = 0 -> nothing qualifies, nothing kept
    val k25 = byLang(25)
    assert(k25("en").getAs[Long]("n_kept") === 0L)
    assert(k25("fr").getAs[Long]("n_kept") === 0L)
    // identical docs share one key: the cutoff group is kept WHOLE
    // even though the target size is 1
    val tied = Seq((0L, "x y", "en"), (1L, "x y", "en"),
      (2L, "x y", "en"), (3L, "x y", "en")).toDF("doc_id", "text", "lang")
    val t = TextAnalysis.dsirSelect(tied, keepPct = 25).collect()
    assert(t.length === 1)
    assert(t.head.getAs[Long]("n_kept") === 4L)
    assert(t.head.getAs[Double]("kept_frac") === 1.0)
  }

  test("ivf probe sweep: recall and cost are monotone in nprobe; one cell means total recall") {
    import spark.implicits._
    val vecs = for (g <- 0 until 4; j <- 0 until 4) yield {
      val v = Array.tabulate(64) { d =>
        val base = if (d / 16 == g) 1.0f else 0.0f
        base + (((g * 4 + j) * 13 + d * 5) % 7 - 3) * 0.01f
      }
      (g * 10L + j, v, s"g$g")
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val queries = emb.filter(col("vec_id") % 10 === 0)
    // single cell: every probe count sees the whole corpus -> recall 1
    val one = Embeddings.ivfProbeSweep(emb, queries, k = 3,
      probeNs = Seq(1, 2), numCentroids = 1).collect()
    assert(one.length === 2)
    for (r <- one) {
      assert(r.getAs[Double]("recall_at_k") === 1.0)
      assert(r.getAs[Long]("candidates_total") === 4L * 15L)
    }
    // multi-cell: widening the probe list never loses candidates or recall
    val sweep = Embeddings.ivfProbeSweep(emb, queries, k = 3,
      probeNs = Seq(1, 2, 4), numCentroids = 4).collect()
    assert(sweep.map(_.getAs[Long]("nprobe")).toSeq === Seq(1L, 2L, 4L))
    val cands = sweep.map(_.getAs[Long]("candidates_total"))
    val recall = sweep.map(_.getAs[Double]("recall_at_k"))
    assert(cands.sorted.toSeq === cands.toSeq)
    assert(recall.sorted.toSeq === recall.toSeq)
    assert(recall.last <= 1.0 && recall.head >= 0.0)
    val tt = sweep.head.getAs[Long]("truth_total")
    for (r <- sweep) assert(r.getAs[Long]("hits") <= tt)
  }

  test("knn pagerank: symmetric regular graph converges to the exact uniform fixed-point value") {
    import spark.implicits._
    // the knnGraph 3x3 fixture: three planted groups, numCentroids=1,
    // k=2 -> three disjoint bidirectional triangles, every node
    // out-degree 2 and in-degree 2 -> by symmetry every rank is the
    // same integer, reproducible by running the SAME floor arithmetic
    // scalar-side
    val vecs = for (g <- 0 until 3; j <- 0 until 3) yield {
      val v = Array.tabulate(64) { d =>
        val base = if (d / 21 == g) 1.0f else 0.0f
        base + (((g * 3 + j) * 13 + d * 5) % 7 - 3) * 0.01f
      }
      (g * 10L + j, v, s"g$g")
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val out = Embeddings.knnPagerank(emb, k = 2, iters = 5, numCentroids = 1)
      .collect()
    assert(out.length === 9)
    val scale = 1000000000000L
    var expect = scale / 9
    for (_ <- 1 to 5) {
      val s = 2L * (expect / 2L) // two in-neighbors, each deg 2
      expect = (15L * scale) / (100L * 9L) + (85L * s) / 100L
    }
    for (r <- out) {
      assert(r.getAs[Long]("out_deg") === 2L)
      assert(r.getAs[Long]("rank_fp") === expect, r.toString)
    }
    // dangling mass is dropped, never created: total <= SCALE
    assert(out.map(_.getAs[Long]("rank_fp")).sum <= scale)
  }

  test("template prefixes: dominant feed header ranks first; ties break on prefix text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "breaking news today x y z", "en", "feed", 25L),
      (2L, "breaking news today a b c", "en", "feed", 25L),
      (3L, "breaking news today d e", "en", "feed", 23L),
      (4L, "alpha beta gamma", "en", "feed", 16L),
      (5L, "alpha beta gamma", "en", "feed", 16L),
      (6L, "solo doc here", "en", "other", 13L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.templatePrefixes(docs).collect()
    val feed = out.filter(_.getAs[String]("source") == "feed")
    assert(feed.head.getAs[String]("prefix") === "breaking news today")
    assert(feed.head.getAs[Long]("n_docs") === 3L)
    // token mass = ceil-div-4 of n_chars summed over the group
    assert(feed.head.getAs[Long]("tokens") === (25L + 3) / 4 * 2 + (23L + 3) / 4)
    assert(feed(1).getAs[String]("prefix") === "alpha beta gamma")
    assert(out.filter(_.getAs[String]("source") == "other").head
      .getAs[Long]("rank") === 1L)
  }

  test("similar docs: identical doc ranks first, near-dup second, unrelated absent") {
    // query sample is doc_id % 53 == 0 -> only doc 0 here
    val out = Dedup.similarDocs(docs).collect()
    assert(out.forall(_.getAs[Long]("query_id") == 0L))
    assert(out.length === 2) // docs 2 (no shared gram) and 4 (too short) absent
    assert(out(0).getAs[Long]("rank") === 1L)
    assert(out(0).getAs[Long]("match_id") === 3L) // identical text
    assert(out(0).getAs[Double]("jaccard") === 1.0)
    assert(out(1).getAs[Long]("rank") === 2L)
    assert(out(1).getAs[Long]("match_id") === 1L) // one-word difference
    assert(out(1).getAs[Long]("inter_n") === 11L)
  }

  test("snapshot chunk diff: a replayed identical doc is 100% reused chunk mass") {
    // old = even ids (0, 2, 4); added = 1 (near-dup of 0) and 3 (identical to 0)
    val out = Dedup.snapshotChunkDiff(docs.filter(col("doc_id") % 2 === 0), docs)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out.keySet === Set("s0", "s2"))
    val s2 = out("s2") // doc 3 == doc 0 verbatim: every chunk identity known
    assert(s2.getAs[Long]("fresh_tokens") === 0L)
    assert(s2.getAs[Double]("fresh_token_frac") === 0.0)
    assert(s2.getAs[Long]("reused_chunks") === s2.getAs[Long]("n_chunks"))
    val s0 = out("s0") // doc 1: 14 tokens, reused + fresh partition the mass
    assert(s0.getAs[Long]("n_tokens") === 14L)
    assert(s0.getAs[Long]("reused_tokens") + s0.getAs[Long]("fresh_tokens")
      === s0.getAs[Long]("n_tokens"))
  }

  test("train order: injective interleave, dense per-lane positions, deterministic") {
    val out = Sampling.trainOrder(docs).collect()
    assert(out.length === 5)
    val ords = out.map(_.getAs[Long]("ord"))
    assert(ords.distinct.length === ords.length) // pos*lanes+lane is injective
    for (r <- out)
      assert(r.getAs[Long]("ord") ===
        r.getAs[Long]("pos_in_lane") * 8 + r.getAs[Long]("lane"))
    // positions are dense 0..k-1 within each lane
    out.groupBy(_.getAs[Long]("lane")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("pos_in_lane")).sorted.toSeq
        === (0L until rows.length).toSeq)
    }
    // content-independent and re-run stable
    assert(Sampling.trainOrder(docs).collect().map(_.toSeq).toSeq
      === out.map(_.toSeq).toSeq)
  }

  test("ann filtered: matches share the query's label; nearer wrong-label vector excluded") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (100L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.95f, 0.05f, 0.0f), 1), // closest to the query but wrong label
      (3L, Array(1.0f, 0.05f, 0.0f), 0),
      (4L, Array(0.0f, 1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Embeddings.annFiltered(emb, emb.filter(col("vec_id") === 0), k = 5)
      .collect()
    assert(out.forall(_.getAs[Long]("label") == 0L))
    assert(out.map(_.getAs[Long]("vec_id")).toSeq === Seq(3L, 100L))
    assert(out.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L))
  }

  test("bloom fp calibration: fp rate falls with filter size; set bits bounded") {
    val out = Dedup.bloomFpCalibration(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")).collect()
    assert(out.length === 3)
    val rates = out.map(_.getAs[Double]("fp_rate"))
    assert(rates.zip(rates.tail).forall { case (a, b) => a >= b })
    for (r <- out) {
      assert(r.getAs[Long]("set_bits") <=
        math.min(r.getAs[Long]("m_bits"), 5L * r.getAs[Long]("n_members")))
      assert(r.getAs[Long]("false_positives") <= r.getAs[Long]("n_negatives"))
    }
  }

  test("detector semantic pr: counts are consistent and bounded on real testdata") {
    val sfDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sfEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Dedup.detectorSemanticPr(sfDocs, sfEmb).collect()
    assert(out.map(_.getAs[String]("det")).toSeq
      === Seq("minhash", "ngram", "simhash"))
    for (r <- out) {
      val (dp, sp, tp) = (r.getAs[Long]("det_pairs"),
        r.getAs[Long]("sem_pairs"), r.getAs[Long]("tp"))
      assert(tp >= 0L && tp <= dp && tp <= sp)
      assert(r.getAs[Long]("fp") === dp - tp)
      assert(r.getAs[Long]("fn") === sp - tp)
      val (prec, rec) = (r.getAs[Double]("precision"), r.getAs[Double]("recall"))
      assert(prec >= 0.0 && prec <= 1.0 && rec >= 0.0 && rec <= 1.0)
    }
    // all three detectors score against the SAME semantic total
    assert(out.map(_.getAs[Long]("sem_pairs")).distinct.length === 1)
  }
}
