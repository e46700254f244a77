package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same inputs, and each
  * generator also returns the exact facts the checks compare against:
  * per-source distinct counts (the HLL/KMV oracle), the planted
  * contamination count and the planted near-dup clusters. */
object Inputs {

  final case class TokenDoc(doc_id: Long, source: String, tokens: Array[Int])
  final case class TextDoc(doc_id: Long, text: String)

  /** A token table plus its exact per-source statistics. */
  final class TokenTable(val docs: Array[TokenDoc], val vocab: Int) {
    val sources: Seq[String] = docs.map(_.source).distinct.sorted.toSeq
    val tokensPerSource: Map[String, Long] =
      docs.groupBy(_.source).map { case (s, ds) => s -> ds.map(_.tokens.length.toLong).sum }
    val distinctPerSource: Map[String, Long] =
      docs.groupBy(_.source).map { case (s, ds) => s -> distinctCount(ds) }
    val distinctTotal: Long = distinctCount(docs)
    val totalTokens: Long = tokensPerSource.values.sum
  }

  private def distinctCount(ds: Array[TokenDoc]): Long = {
    val seen = new java.util.BitSet()
    ds.foreach(_.tokens.foreach(t => seen.set(t)))
    seen.cardinality().toLong
  }

  /** Cumulative Zipf(s) weights over ranks 1..n. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); cdf(i) = acc; i += 1 }
    i = 0
    while (i < n) { cdf(i) /= acc; i += 1 }
    cdf
  }

  private def draw(cdf: Array[Double], rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  val NumSources = 16

  /** `nDocs` docs over `NumSources` Zipf-skewed sources (the hot one holds
    * about 30% of the rows) with Zipf token ids from `vocab`. Each source
    * maps ranks to ids through its own offset, so sources differ in their
    * distinct sets. Doc lengths are uniform in [avgLen/2, 3*avgLen/2). */
  def tokenTable(seed: Long, nDocs: Int, avgLen: Int, vocab: Int): TokenTable = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val sourceCdf = zipfCdf(NumSources, 1.0)
    val tokenCdf = zipfCdf(vocab, 1.0)
    val offsets = Array.tabulate(NumSources)(i => (i.toLong * 7919L % vocab).toInt)
    val docs = Array.tabulate(nDocs) { d =>
      val s = draw(sourceCdf, rng)
      val len = avgLen / 2 + rng.nextInt(math.max(1, avgLen))
      val toks = Array.fill(len)((draw(tokenCdf, rng) + offsets(s)) % vocab)
      TokenDoc(d.toLong, f"src_$s%02d", toks)
    }
    new TokenTable(docs, vocab)
  }

  /** Member and non-member keys for the plain probe: a bijective 64-bit
    * mixer over even and odd indices, so the two sets are disjoint. */
  @inline def mix64(seed: Long, i: Long): Long = {
    var z = i * 0x9E3779B97F4A7C15L + seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  @inline def member(seed: Long, i: Long): Long = mix64(seed, 2 * i)
  @inline def nonMember(seed: Long, i: Long): Long = mix64(seed, 2 * i + 1)

  /** Decontamination corpus: train docs over the Zipf vocab, eval docs
    * (`source == EvalSource`) over a reserved id range train docs never
    * use, and `planted` train docs that each carry one copied eval n-gram.
    * Every hit is therefore planted: hits == contaminated docs == planted. */
  final class DeconCorpus(val docs: Array[TokenDoc], val trainDocs: Long, val planted: Long)
  val EvalSource = "evalset"
  val EvalBase = 1 << 24

  def deconCorpus(seed: Long, nTrain: Int, nEval: Int, planted: Int, avgLen: Int,
      vocab: Int, n: Int): DeconCorpus = {
    val base = tokenTable(seed ^ 0x5A5A5A5AL, nTrain, avgLen, vocab)
    val rng = new SplittableRandom(seed * 31 + 7)
    val evalDocs = Array.tabulate(nEval) { e =>
      TokenDoc(nTrain.toLong + e, EvalSource, Array.fill(avgLen)(EvalBase + rng.nextInt(1 << 20)))
    }
    val train = base.docs.map(d => d.copy(tokens = d.tokens.clone()))
    // distinct victims, each carrying one window copied from an eval doc
    val victims = rng.ints(0, nTrain).distinct().limit(planted.toLong).toArray
    victims.foreach { v =>
      val doc = train(v).tokens
      val src = evalDocs(rng.nextInt(nEval)).tokens
      val from = rng.nextInt(src.length - n + 1)
      val at = rng.nextInt(doc.length - n + 1)
      System.arraycopy(src, from, doc, at, n)
    }
    new DeconCorpus(train ++ evalDocs, nTrain.toLong, victims.length.toLong)
  }

  /** Near-dup corpus: random 30-word docs over a 200k-word vocabulary,
    * plus planted clusters of sizes 2..8 in turn. A cluster is a head and
    * its variants; variant j is the head with word 2+4(j-1) replaced, so
    * head and variant have 3-shingle Jaccard 25/31 (above 0.7) and two
    * variants 22/34 (below it). Each cluster is a star around its head.
    * Doc ids are shuffled, so the head is rarely the cluster's minimum id
    * and connected components needs a propagation round before it
    * converges.
    *
    * `clusterOf(doc)` is the planted cluster index, or -1. */
  final class DedupCorpus(val docs: Array[TextDoc], val clusterOf: Array[Int],
      val plantedPairs: Set[(Long, Long)], val clusters: Int) {
    val distinctWords: Long = docs.iterator.flatMap(_.text.split(' ')).toSet.size.toLong
  }

  def dedupCorpus(seed: Long, nDocs: Int, dupShare: Double): DedupCorpus = {
    val rng = new SplittableRandom(seed * 131 + 3)
    val words = 30
    def randomDoc(): Array[String] = Array.fill(words)("w" + rng.nextInt(200000))
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val cluster = scala.collection.mutable.ArrayBuffer.empty[Int]
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val dupTarget = (nDocs * dupShare).toInt
    var dups = 0
    while (dups < dupTarget && texts.length < nDocs - 8) {
      // sizes cycle through 2..8, so every seed plants the same mix
      val c = clusters.length
      val size = 2 + c % 7
      val head = randomDoc()
      val idx = scala.collection.mutable.ArrayBuffer(texts.length)
      texts += head; cluster += c
      (1 until size).foreach { j =>
        val v = head.clone()
        v(2 + 4 * (j - 1)) = s"x${c}_$j"
        idx += texts.length
        texts += v; cluster += c
      }
      clusters += idx.toSeq
      dups += size - 1
    }
    while (texts.length < nDocs) { texts += randomDoc(); cluster += -1 }
    // shuffled ids: position p gets id perm(p)
    val perm = Array.range(0, texts.length)
    var i = perm.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    val docs = new Array[TextDoc](texts.length)
    val clusterOf = new Array[Int](texts.length)
    texts.indices.foreach { p =>
      docs(perm(p)) = TextDoc(perm(p).toLong, texts(p).mkString(" "))
      clusterOf(perm(p)) = cluster(p)
    }
    val pairs = clusters.flatMap(c => c.tail.map { v =>
      val (x, y) = (perm(c.head).toLong, perm(v).toLong)
      if (x < y) (x, y) else (y, x)
    }).toSet
    new DedupCorpus(docs, clusterOf, pairs, clusters.length)
  }
}
