package perfbench

import graft.SketchQueries.{K0, K1, cmsCfg, hllP}
import graft.core._
import graft.operators.SketchAggs.{BloomMergeAgg, FusedTokensAgg, HllTokensAgg}

/** Single-thread loops for the kernel (`core`) and operator (`operators`)
  * layers, run over a workload's own tokens and documents. Each figure is
  * the median of timed laps after warm-up laps. */
object Layers {
  @volatile var sink: Long = 0L

  private def lap(body: => Long): Double = {
    val t0 = System.nanoTime()
    sink ^= body
    (System.nanoTime() - t0).toDouble
  }

  /** Nanoseconds per operation: `ops` operations per call of `body`. */
  def perOpNs(ops: Long, warm: Int = 2, reps: Int = 5)(body: => Long): Double = {
    (1 to warm).foreach(_ => lap(body))
    Main.median((1 to reps).map(_ => lap(body) / ops))
  }

  /** The reference's measured configuration (k=3, log2l=12). */
  val insertCfg: BloomConfig = BloomConfig(K0, K1, k = 3, log2l = 12)
  val probeCfg: BloomConfig = BloomConfig(K0, K1, k = 3, log2l = 18)
  val buildCfg: BloomConfig = BloomConfig(K0, K1, k = 3, log2l = 14)

  def core(tokens: Array[Int], words: Array[Array[String]]): Map[String, Double] = {
    val n = tokens.length.toLong
    val hashes = tokens.map(t => SipHash.hashInt(K0, K1, t))
    val probeWords = new Array[Long](probeCfg.l)
    tokens.foreach(t => BlockedBloom.insertInt(probeWords, probeCfg, t))
    val a = new Array[Long](buildCfg.l)
    val b = new Array[Long](buildCfg.l)
    tokens.foreach(t => BlockedBloom.insertInt(b, buildCfg, t))
    val unions = 256
    Map(
      "core.siphash_ns" -> perOpNs(n) {
        var h = 0L; var i = 0
        while (i < tokens.length) { h ^= SipHash.hashInt(K0, K1, tokens(i)); i += 1 }
        h
      },
      "core.bloom_insert_ns" -> perOpNs(n) {
        val w = new Array[Long](insertCfg.l)
        var i = 0
        while (i < tokens.length) { BlockedBloom.insertInt(w, insertCfg, tokens(i)); i += 1 }
        w(0)
      },
      "core.bloom_contains_ns" -> perOpNs(n) {
        var c = 0L; var i = 0
        while (i < tokens.length) { if (BlockedBloom.containsInt(probeWords, probeCfg, tokens(i))) c += 1; i += 1 }
        c
      },
      "core.cms_add_ns" -> perOpNs(n) {
        val buf = CountMin.empty(cmsCfg)
        var i = 0
        while (i < tokens.length) { CountMin.addInt(buf, cmsCfg, tokens(i)); i += 1 }
        buf(0)
      },
      "core.kmv_add_ns" -> perOpNs(n) {
        val hs = Kmv.emptyHashes(1024)
        var s = 0; var i = 0
        while (i < hashes.length) { s = Kmv.add(hs, s, hashes(i)); i += 1 }
        s.toLong
      },
      "core.bloom_union_us" -> perOpNs(unions) {
        var i = 0
        while (i < unions) { BlockedBloom.unionInPlace(a, b); i += 1 }
        a(0)
      } / 1e3,
      "core.minhash_sig_us" -> perOpNs(words.length.toLong) {
        var h = 0L; var i = 0
        while (i < words.length) { h ^= MinHash.signatureOfWords(K0, K1, words(i), 3, 128)(0); i += 1 }
        h
      } / 1e3)
  }

  def operators(docs: Array[Array[Int]]): Map[String, Double] = {
    val n = docs.map(_.length.toLong).sum
    val fused = new FusedTokensAgg(buildCfg, hllP, cmsCfg)
    val hll = new HllTokensAgg(K0, K1, hllP)
    val merge = new BloomMergeAgg(K0, K1)
    val full = docs.foldLeft(fused.zero)(fused.reduce)
    val serialized = fused.finish(full)
    val merges = 64
    val finishes = 64
    Map(
      "operators.fused_reduce_ns" -> perOpNs(n) {
        val buf = fused.zero
        var i = 0
        while (i < docs.length) { fused.reduce(buf, docs(i)); i += 1 }
        buf.bloom(0)
      },
      "operators.hll_reduce_ns" -> perOpNs(n) {
        var buf = hll.zero
        var i = 0
        while (i < docs.length) { buf = hll.reduce(buf, docs(i)); i += 1 }
        buf(0).toLong
      },
      "operators.bloom_merge_us" -> perOpNs(merges) {
        var buf = merge.zero
        var i = 0
        while (i < merges) { buf = merge.reduce(buf, serialized.bloom); i += 1 }
        buf.words(0)
      } / 1e3,
      "operators.sketch_finish_us" -> perOpNs(finishes) {
        var s = 0L; var i = 0
        while (i < finishes) { s += fused.finish(full).bloom.length; i += 1 }
        s
      } / 1e3,
      "operators.sketch_bytes" ->
        (serialized.bloom.length + serialized.hll.length + serialized.cms.length).toDouble)
  }
}
