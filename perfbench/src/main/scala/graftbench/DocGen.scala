package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One generated document and how it came about. */
final case class Doc(id: Long, text: String, lang: String, source: String, replica: Int,
                     copyOf: Option[Long], variantOf: Option[Long]) {
  def nChars: Long = text.length.toLong
}

/** Seeded corpus built the way `tools/make_sf1.py` builds sf1 from
 *  sf0.1: `Replicas` id-shifted copies of one base corpus, where replica
 *  r > 0 suffixes every word with `_r`, so each replica keeps the base's
 *  near-duplicate structure while no shingle matches across replicas.
 *
 *  The base corpus is drawn with the statistics measured once from
 *  sf0.1's `documents.parquet` (5,000 documents): words drawn uniformly
 *  from its 30-word vocabulary; 10-99 words per document, uniform; 5.0%
 *  of documents (250) are another document with the word `dup`
 *  appended, its only kind of near-duplicate; languages en 41%, es/fr/zh
 *  15% each, de 14%; 20 sources of equal size. sf0.1 has 0.16% exact
 *  copies; the base injects 5% so that every stream batch holds some
 *  for the exact gate. Both shares, and the even spread of lengths,
 *  hold exactly for every seed rather than being drawn per document.
 *  A copy or variant always arrives after its source, and a variant's
 *  source is always an original document. */
final class DocGen(seed: Long, val n: Int) {
  import DocGen._

  private val rng = new SplittableRandom(seed)
  private val baseN = (n + Replicas - 1) / Replicas

  private def lang(): String = {
    val u = rng.nextInt(10000)
    Langs.find(_._2 > u).get._1
  }

  private val base: IndexedSeq[Base] = {
    // Exactly the shares of copies and variants, at seeded positions, so
    // that every seed's batches carry about the same duplicate load.
    val slots = (1 until baseN).map(i => (rng.nextLong(), i)).sortBy(_._1).map(_._2)
    val nCopies = math.round(CopyShare * baseN).toInt
    val copies = slots.take(nCopies).toSet
    val nVariants = math.round(VariantShare * baseN).toInt
    val variants = slots.slice(nCopies, nCopies + nVariants).toSet
    // The originals' lengths spread evenly over the range, in seeded
    // order, so that every seed has the same mean document length.
    val nOriginals = baseN - nCopies - nVariants
    val span = MaxWords - MinWords + 1
    val lengths = (0 until nOriginals)
      .map(k => (rng.nextLong(), MinWords + ((k + 0.5) * span / nOriginals).toInt))
      .sortBy(_._1).map(_._2).iterator
    val out = mutable.ArrayBuffer.empty[Base]
    val originals = mutable.ArrayBuffer.empty[Int]
    (0 until baseN).foreach { i =>
      val src = s"src${rng.nextInt(Sources)}"
      out += (
        if (copies(i)) {
          val o = rng.nextInt(out.size)
          out(o).copy(source = src, copyOf = Some(o), variantOf = None)
        } else if (variants(i)) {
          val o = originals(rng.nextInt(originals.size))
          Base(out(o).words :+ "dup", lang(), src, None, Some(o))
        } else {
          originals += i
          Base(Seq.fill(lengths.next())(Words(rng.nextInt(Words.length))),
            lang(), src, None, None)
        })
    }
    out.toIndexedSeq
  }

  val docs: IndexedSeq[Doc] = (0 until n).map { id =>
    val r = id / baseN
    val b = base(id % baseN)
    val text = if (r == 0) b.words.mkString(" ") else b.words.map(w => s"${w}_$r").mkString(" ")
    Doc(id, text, b.lang, b.source, r,
      b.copyOf.map(o => (r * baseN + o).toLong), b.variantOf.map(o => (r * baseN + o).toLong))
  }

  def replicaOf(id: Long): Int = docs(id.toInt).replica
  /** Ids whose text equals that of a document with a smaller id. */
  lazy val exactCopies: Set[Long] = {
    val first = mutable.HashMap.empty[String, Long]
    docs.filter(d => first.getOrElseUpdate(d.text, d.id) != d.id).map(_.id).toSet
  }

  /** Variants that are not also exact copies of another document: each
   *  must be found as a near-duplicate of its source, and only these
   *  pairs may be found. */
  lazy val nearDupPairs: Map[Long, Long] =
    docs.collect { case d if d.variantOf.nonEmpty && !exactCopies(d.id) => d.id -> d.variantOf.get }.toMap

  def describe: Map[String, Any] = Map(
    "docs" -> n, "replicas" -> Replicas, "base_docs" -> baseN,
    "exact_copies" -> exactCopies.size, "near_dup_variants" -> nearDupPairs.size,
    "dup_share" -> (exactCopies.size + nearDupPairs.size).toDouble / n,
    "mean_words" -> docs.map(_.text.count(_ == ' ') + 1).sum.toDouble / n)
}

object DocGen {
  private final case class Base(words: Seq[String], lang: String, source: String,
                                copyOf: Option[Int], variantOf: Option[Int])

  private val Replicas = 4
  private val Words = Array("agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "value", "vector", "window", "the", "a")
  private val MinWords = 10
  private val MaxWords = 99
  private val VariantShare = 0.05
  private val CopyShare = 0.05
  private val Sources = 20
  /** Language and cumulative share in 1/10,000. */
  private val Langs = Seq("en" -> 4118, "zh" -> 5624, "es" -> 7112, "fr" -> 8596, "de" -> 10000)
}
