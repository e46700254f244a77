package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.SketchQueries.{K0, K1, hllP}
import graft.core._
import graft.operators.{Decontamination, TextPipeline}
import graft.operators.SketchAggs.{BloomMergeAgg, KmvTokensAgg}
import graft.plans.{GraftFunctions, NativeAggs}

/** One named check of a pass result. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What one pass did: `items` processed by the headline steps in
  * `itemSeconds`, the one-task/n-task ratio of the headline step (NaN when
  * the pass skipped the one-task repeat), the seconds of the built-in
  * yardstick job, the seconds of the steps run beside the result (the
  * yardstick and the one-task repeat, which `wall_s` leaves out), every
  * check, workload figures (quality ratios, per-unit rates) and the time
  * of each step. */
final case class PassResult(items: Double, itemSeconds: Double, scaling: Double,
    builtinSeconds: Double, asideSeconds: Double, checks: Seq[Check], figures: Map[String, Double])

/** A workload generates its inputs on the driver (before any clock), loads
  * them into a session (set-up), and runs passes that check their own
  * results. `fault` plants a named defect into a pass result, so the
  * self-test can prove that each check fires. */
abstract class Workload(val seed: Long, val scale: Double, val nproc: Int, val fault: String) {
  def name: String
  def load(spark: SparkSession): Unit
  /** One checked pass. With `oneTask` it repeats its headline step in a
    * single task afterwards, for `plans.scaling_eff`. */
  def pass(spark: SparkSession, tr: Tracer, oneTask: Boolean): PassResult
  /** Tokens and documents the kernel and operator loops run over. */
  def sampleTokens: Array[Int]
  def sampleDocs: Array[Array[Int]]
  def sampleWords: Array[Array[String]]

  protected def sized(n: Int): Int = math.max(64, (n * scale).toInt)

  /** The one-task repeat of a pass: its value and seconds, if it runs. */
  protected def oneTaskPhase[A](tr: Tracer, step: String, run: Boolean)(body: => A): Option[(A, Double)] =
    if (run) Some(phase(tr, step)(body)) else None

  /** The scaling efficiency of one pass and the repeat's seconds (NaN and
    * 0 when the repeat did not run). */
  protected def scaling(one: Option[(Any, Double)], tMany: Double): (Double, Double) =
    one.fold((Double.NaN, 0.0)) { case (_, t) => ((t / tMany) / nproc, t) }

  /** Runs one phase of a pass as a traced span; returns its seconds. */
  protected def phase[A](tr: Tracer, step: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = tr.span("phase", s"$name.$step")(body)
    (a, (System.nanoTime() - t0) / 1e9)
  }

  protected def check(name: String, ok: Boolean, detail: => String): Check =
    Check(name, ok, if (ok) "" else detail)

  protected def tokenFrame(spark: SparkSession, docs: Array[Inputs.TokenDoc]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs.toSeq, nproc * 4).toDF()
  }
}

object Workload {
  val names: Seq[String] = Seq("build", "probe", "dedup")

  def apply(name: String, seed: Long, scale: Double, nproc: Int, fault: String): Workload =
    name match {
      case "build" => new BuildWorkload(seed, scale, nproc, fault)
      case "probe" => new ProbeWorkload(seed, scale, nproc, fault)
      case "dedup" => new DedupWorkload(seed, scale, nproc, fault)
      case other => throw new IllegalArgumentException(s"unknown workload '$other' (${names.mkString(", ")})")
    }

  /** Binomial tolerance of a measured/analytic FPR ratio: six standard
    * deviations of the expected false-positive count. */
  def fprCheck(fp: Long, trials: Long, analytic: Double): (Double, Check) = {
    val expected = trials * analytic
    val ratio = fp / expected
    val tol = 6.0 / math.sqrt(expected)
    (ratio, Check("fpr_ratio", math.abs(ratio - 1.0) <= tol,
      f"measured/analytic FPR $ratio%.4f outside 1 +- $tol%.4f ($fp of $trials)"))
  }

  def words(tokens: Array[Int]): Array[String] = tokens.map(t => "t" + t)
}

/** The write path: per-source fused Bloom+HLL+CMS build, a global Bloom
  * merge, a per-source KMV, then the fused build again in one task. */
final class BuildWorkload(seed: Long, scale: Double, nproc: Int, fault: String)
    extends Workload(seed, scale, nproc, fault) {
  val name = "build"
  private val cfg = Layers.buildCfg
  private val kmvK = 1024
  val table: Inputs.TokenTable = Inputs.tokenTable(seed, sized(120000), 64, 50000)
  private var df: DataFrame = _
  private val hot = table.sources.maxBy(table.tokensPerSource)
  /** Each source's tokens from its first 64 docs: the members checked. */
  private val sample: Map[String, Array[Int]] =
    table.docs.groupBy(_.source).map { case (s, ds) => s -> ds.take(64).flatMap(_.tokens) }

  lazy val sampleDocs: Array[Array[Int]] = table.docs.take(8192).map(_.tokens)
  lazy val sampleTokens: Array[Int] = sampleDocs.flatten
  lazy val sampleWords: Array[Array[String]] = sampleDocs.take(2048).map(Workload.words)

  def load(spark: SparkSession): Unit = {
    NativeAggs.register(spark, bloomK = cfg.k, bloomLog2l = cfg.log2l, k0 = K0, k1 = K1)
    df = tokenFrame(spark, table.docs).persist()
    df.count()
  }

  private def perSource(input: DataFrame, tr: Tracer): DataFrame =
    tr.span("call", "plans.NativeAggs.fusedTokensNative") {
      input.groupBy(col("source")).agg(NativeAggs.fusedTokensNative(col("tokens")).as("sk"))
    }

  private def collectSketches(sk: DataFrame): Map[String, (Array[Byte], Array[Byte], Array[Byte])] =
    sk.select(col("source"), col("sk.bloom"), col("sk.hll"), col("sk.cms")).collect()
      .map(r => r.getString(0) -> (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
      .toMap

  def pass(spark: SparkSession, tr: Tracer, oneTask: Boolean): PassResult = {
    val sk = perSource(df, tr).persist()
    val (sketches, tFused) = phase(tr, "fused")(collectSketches(sk))
    val (global, tMerge) = phase(tr, "merge") {
      val mergeU = tr.span("call", "operators.SketchAggs.BloomMergeAgg") {
        udaf(new BloomMergeAgg(K0, K1), ExpressionEncoder[Array[Byte]]())
      }
      sk.agg(mergeU(col("sk.bloom"))).head().getAs[Array[Byte]](0)
    }
    sk.unpersist()
    val (kmvs, tKmv) = phase(tr, "kmv") {
      val kmvU = tr.span("call", "operators.SketchAggs.KmvTokensAgg") {
        udaf(new KmvTokensAgg(K0, K1, kmvK), ExpressionEncoder[Array[Int]]())
      }
      df.groupBy(col("source")).agg(kmvU(col("tokens"))).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    }
    val (builtin, tBuiltin) = phase(tr, "builtin") {
      df.select(col("source"), explode(col("tokens")).as("t")).groupBy(col("source"))
        .agg(approx_count_distinct(col("t"), Hll.stdError(hllP)).as("n"),
          count_min_sketch(col("t"), lit(0.001), lit(0.99), lit(42)).as("cms"))
        .select(col("source"), col("n"), length(col("cms"))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val one = oneTaskPhase(tr, "fused_1task", oneTask)(collectSketches(perSource(df.coalesce(1), tr)))

    // ---- checks (faults corrupt the results first) ----
    val blooms = sketches.map { case (s, v) => s -> BlockedBloom.fromBytes(K0, K1, v._1)._2 }
    if (fault == "bloom_word") {
      val t = sample(hot).head
      blooms(hot)(BlockedBloom.wordIndex64(SipHash.hashInt(K0, K1, t), cfg)) = 0L
    }
    val misses = sample.toSeq.map { case (s, ts) => ts.count(t => !BlockedBloom.containsInt(blooms(s), cfg, t)) }.sum
    val (gCfg, gWords, _) = BlockedBloom.fromBytes(K0, K1, global)
    if (fault == "fpr") gWords.indices.filter(_ % 4 == 0).foreach(i => gWords(i) = -1L)
    val trials = 400000L
    var fp = 0L
    var i = 0L
    while (i < trials) { if (BlockedBloom.containsInt(gWords, gCfg, table.vocab + i.toInt)) fp += 1; i += 1 }
    val (fprRatio, fprOk) = Workload.fprCheck(fp, trials, Fpr.bloom1(table.distinctTotal, gCfg.l.toLong, gCfg.k))
    val hllErr = table.sources.map { s =>
      val (_, regs, _) = Hll.fromBytes(sketches(s)._2)
      if (fault == "hll" && s == hot) java.util.Arrays.fill(regs, regs.length / 2, regs.length, 0.toByte)
      math.abs(Hll.estimate(regs) / table.distinctPerSource(s) - 1.0)
    }.max
    val hllTol = 3 * Hll.stdError(hllP)
    val cmsBad = table.sources.filter { s =>
      val (depth, log2w, buf, _) = CountMin.fromBytes(sketches(s)._3)
      val total = CountMin.totalCount(buf, CmsConfig(K0, K1, depth, log2w))
      total + (if (fault == "cms" && s == hot) 1 else 0) != table.tokensPerSource(s)
    }
    val kmvErr = table.sources.map { s =>
      val (hs, size, _, _) = Kmv.fromBytes(kmvs(s))
      val est = if (fault == "kmv" && s == hot) Kmv.estimate(hs, size) * 1.5 else Kmv.estimate(hs, size)
      math.abs(est / table.distinctPerSource(s) - 1.0)
    }.max
    val kmvTol = 4 * Kmv.stdError(kmvK)
    val builtinErr = table.sources.map { s =>
      val est = if (fault == "builtin" && s == hot) builtin(s) * 1.5 else builtin(s).toDouble
      math.abs(est / table.distinctPerSource(s) - 1.0)
    }.max
    val identical = one.map { case (oneSketches, _) => table.sources.forall { s =>
      val (a, b) = (sketches(s), oneSketches(s))
      java.util.Arrays.equals(a._1, b._1) && java.util.Arrays.equals(a._2, b._2) && java.util.Arrays.equals(a._3, b._3)
    } }
    val checks = Seq(
      check("no_false_negatives", misses == 0, s"$misses sampled members missing"),
      fprOk,
      check("hll_3sigma", hllErr <= hllTol, f"worst HLL error $hllErr%.4f > $hllTol%.4f"),
      check("cms_total", cmsBad.isEmpty, s"CMS totals differ from token counts for ${cmsBad.mkString(",")}"),
      check("kmv_4sigma", kmvErr <= kmvTol, f"worst KMV error $kmvErr%.4f > $kmvTol%.4f"),
      check("builtin_hll_3sigma", builtinErr <= hllTol, f"worst built-in HLL error $builtinErr%.4f > $hllTol%.4f")) ++
      identical.map(check("one_task_identical", _, "one-task sketches differ from the n-task build"))
    val tokens = table.totalTokens.toDouble
    val (eff, tOne) = scaling(one, tFused)
    PassResult(tokens, tFused, eff, tBuiltin, tBuiltin + tOne, checks, Map(
      "tokens_per_s" -> tokens / tFused, "fpr_ratio" -> fprRatio, "hll_rel_err" -> hllErr,
      "step.fused_s" -> tFused, "step.merge_s" -> tMerge, "step.kmv_s" -> tKmv,
      "step.builtin_s" -> tBuiltin) ++ one.map("step.fused_1task_s" -> _._2))
  }
}

/** The read path on the same Bloom layer: native probes of a half-member
  * stream against one 2 MiB filter, keyed probes against a 16-source pack,
  * and n-gram decontamination with planted contaminated docs. */
final class ProbeWorkload(seed: Long, scale: Double, nproc: Int, fault: String)
    extends Workload(seed, scale, nproc, fault) {
  val name = "probe"
  private val cfg = Layers.probeCfg
  private val packCfg = Layers.buildCfg
  private val deconCfg = BloomConfig(K0, K1, k = 3, log2l = 17)
  private val deconN = 4
  private val nMembers = sized(512000).toLong
  private val nProbes = sized(8000000).toLong
  val table: Inputs.TokenTable = Inputs.tokenTable(seed, sized(30000), 64, 50000)
  val decon: Inputs.DeconCorpus = Inputs.deconCorpus(seed, sized(5000), math.max(8, sized(400) / 4),
    math.max(4, sized(100) / 2), 48, 50000, deconN)
  private var stream: DataFrame = _
  private var memberDf: DataFrame = _
  private var tokDf: DataFrame = _
  private var deconDf: DataFrame = _
  private var filterBytes: Array[Byte] = _
  private var pack: Seq[(String, Array[Byte])] = _

  lazy val sampleDocs: Array[Array[Int]] = table.docs.take(8192).map(_.tokens)
  lazy val sampleTokens: Array[Int] = sampleDocs.flatten
  lazy val sampleWords: Array[Array[String]] = sampleDocs.take(2048).map(Workload.words)

  def load(spark: SparkSession): Unit = {
    GraftFunctions.register(spark)
    val words = new Array[Long](cfg.l)
    var i = 0L
    while (i < nMembers) { BlockedBloom.insertLong(words, cfg, Inputs.member(seed, i)); i += 1 }
    if (fault == "bloom_word")
      words(BlockedBloom.wordIndex64(SipHash.hashLong(K0, K1, Inputs.member(seed, 0)), cfg)) = 0L
    if (fault == "fpr") words.indices.filter(_ % 4 == 0).foreach(j => words(j) = -1L)
    filterBytes = BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Long)
    pack = table.docs.groupBy(_.source).toSeq.sortBy(_._1).map { case (s, ds) =>
      val w = new Array[Long](packCfg.l)
      ds.foreach(_.tokens.foreach(t => BlockedBloom.insertInt(w, packCfg, t)))
      if (fault == "keyed_word" && s == table.sources.head)
        w(BlockedBloom.wordIndex64(SipHash.hashInt(K0, K1, ds.head.tokens.head), packCfg)) = 0L
      s -> BlockedBloom.toBytes(w, packCfg, BlockedBloom.TypeTag.Int)
    }
    val (s, m) = (seed, nMembers)
    import spark.implicits._
    stream = spark.range(0, nProbes, 1, nproc * 4).map { id =>
      if (id % 2 == 0) (Inputs.member(s, (id / 2) % m), true) else (Inputs.nonMember(s, id / 2), false)
    }.toDF("x", "member").persist()
    // the semi-join's build side; the "builtin" fault drops one member
    val skip = if (fault == "builtin") 0L else -1L
    memberDf = spark.range(0, m, 1, nproc).where(col("id") =!= skip)
      .map(i => Inputs.member(s, i)).toDF("x").persist()
    tokDf = tokenFrame(spark, table.docs).persist()
    deconDf = tokenFrame(spark, decon.docs).persist()
    stream.count(); memberDf.count(); tokDf.count(); deconDf.count()
  }

  private def plain(input: DataFrame, tr: Tracer): Map[Boolean, Long] = {
    val probe = tr.span("call", "plans.GraftFunctions.bloomMightContain") {
      GraftFunctions.bloomMightContain(lit(filterBytes), col("x"))
    }
    input.where(probe).groupBy(col("member")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
  }

  private def keyed(input: DataFrame, tr: Tracer): Long = {
    val probe = tr.span("call", "plans.GraftFunctions.bloomMightContainKeyed") {
      GraftFunctions.bloomMightContainKeyed(pack, col("source"), col("token"))
    }
    input.select(col("source"), explode(col("tokens")).as("token")).where(probe).count()
  }

  def pass(spark: SparkSession, tr: Tracer, oneTask: Boolean): PassResult = {
    val (hits, tPlain) = phase(tr, "plain")(plain(stream, tr))
    val (keyedHits, tKeyed) = phase(tr, "keyed")(keyed(tokDf, tr))
    val (report, tDecon) = phase(tr, "decon") {
      val out = tr.span("call", "operators.Decontamination.decontaminate") {
        Decontamination.decontaminate(deconDf, Inputs.EvalSource,
          if (fault == "decon") deconN + 1 else deconN, deconCfg)
      }
      val r = out.agg(sum(col("n_docs")), sum(col("n_contam_docs")), sum(col("n_hits"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (builtinHits, tBuiltin) = phase(tr, "builtin") {
      stream.join(broadcast(memberDf), Seq("x"), "left_semi").count()
    }
    val one = oneTaskPhase(tr, "keyed_1task", oneTask)(keyed(tokDf.coalesce(1), tr))

    val members = (nProbes + 1) / 2
    val nonMembers = nProbes / 2
    val memberHits = hits.getOrElse(true, 0L)
    val (fprRatio, fprOk) = Workload.fprCheck(hits.getOrElse(false, 0L), nonMembers,
      Fpr.bloom1(nMembers, cfg.l.toLong, cfg.k))
    val checks = Seq(
      check("no_false_negatives", memberHits == members, s"$memberHits of $members member probes passed"),
      fprOk,
      check("keyed_no_false_negatives", keyedHits == table.totalTokens,
        s"$keyedHits of ${table.totalTokens} keyed probes passed"),
      check("decon_hits", report == ((decon.trainDocs, decon.planted, decon.planted)),
        s"report (docs, contaminated, hits) = $report, planted ${decon.planted} in ${decon.trainDocs}"),
      check("builtin_semi_join", builtinHits == members, s"built-in semi-join kept $builtinHits of $members members")) ++
      one.map { case (n, _) => check("one_task_identical", n == keyedHits, s"one-task keyed count $n != $keyedHits") }
    val probes = (nProbes + table.totalTokens).toDouble
    val (eff, tOne) = scaling(one, tKeyed)
    PassResult(probes, tPlain + tKeyed, eff, tBuiltin, tBuiltin + tOne, checks, Map(
      "probes_per_s" -> probes / (tPlain + tKeyed), "decon_docs_per_s" -> decon.trainDocs / tDecon,
      "fpr_ratio" -> fprRatio, "step.plain_s" -> tPlain, "step.keyed_s" -> tKeyed,
      "step.decon_s" -> tDecon, "step.builtin_s" -> tBuiltin) ++ one.map("step.keyed_1task_s" -> _._2))
  }
}

/** The shuffle/join path: MinHash signatures, banded LSH candidates, exact
  * Jaccard verification, connected components and the keep-set, over a
  * corpus with planted near-dup clusters of mixed size. */
final class DedupWorkload(seed: Long, scale: Double, nproc: Int, fault: String)
    extends Workload(seed, scale, nproc, fault) {
  val name = "dedup"
  val corpus: Inputs.DedupCorpus = Inputs.dedupCorpus(seed, sized(10000), 0.1)
  private var docs: DataFrame = _

  lazy val sampleWords: Array[Array[String]] = corpus.docs.take(2048).map(_.text.split(' '))
  lazy val sampleDocs: Array[Array[Int]] =
    corpus.docs.take(8192).map(_.text.split(' ').map(w => w.hashCode))
  lazy val sampleTokens: Array[Int] = sampleDocs.flatten

  def load(spark: SparkSession): Unit = {
    import spark.implicits._
    docs = spark.sparkContext.parallelize(corpus.docs.toSeq, nproc * 4).toDF().persist()
    docs.count()
  }

  private def signatures(input: DataFrame, tr: Tracer): DataFrame = {
    val sig = tr.span("call", "operators.TextPipeline.withMinHashSignature") {
      TextPipeline.withMinHashSignature(input, "text", 3, 128).select(col("doc_id"), col("sig"))
    }.persist()
    sig.count()
    sig
  }

  def pass(spark: SparkSession, tr: Tracer, oneTask: Boolean): PassResult = {
    val (sig, tSig) = phase(tr, "minhash")(signatures(docs, tr))
    val (cands, tLsh) = phase(tr, "lsh") {
      val c = tr.span("call", "operators.TextPipeline.lshCandidatePairs") {
        TextPipeline.lshCandidatePairs(sig, "doc_id", 32, 4)
      }.persist()
      c.count()
      c
    }
    val (verified, tVerify) = phase(tr, "verify") {
      val v = tr.span("call", "operators.TextPipeline.verifyJaccard") {
        TextPipeline.verifyJaccard(cands, docs, "doc_id", "text", 3, 0.7)
      }.select(col("doc_a"), col("doc_b")).persist()
      v.count()
      v
    }
    import spark.implicits._
    val pairs = fault match {
      case "recall" => verified.where((col("doc_a") + col("doc_b")) % 3 =!= 0)
      case "merge" =>
        val heads = corpus.clusterOf.indices.filter(i => corpus.clusterOf(i) >= 0)
          .groupBy(corpus.clusterOf(_)).values.map(_.head.toLong).toSeq.sorted
        verified.union(Seq((heads(0), heads(1))).toDF("doc_a", "doc_b"))
      case _ => verified
    }
    val (clusters, tCc) = phase(tr, "cc") {
      tr.span("call", "operators.TextPipeline.connectedComponents") {
        TextPipeline.connectedComponents(pairs)
      }
    }
    val (kept, tKeep) = phase(tr, "keep") {
      tr.span("call", "operators.TextPipeline.keepAfterClusterDedup") {
        TextPipeline.keepAfterClusterDedup(docs, "doc_id", clusters)
      }.count()
    }
    val labels = clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
    val used = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    Seq(clusters, verified, cands, sig).foreach(_.unpersist())
    val (words, tBuiltin) = phase(tr, "builtin") {
      docs.select(explode(split(col("text"), " ")).as("w")).groupBy(col("w")).count().count()
    }
    val one = oneTaskPhase(tr, "minhash_1task", oneTask) {
      val s = signatures(docs.coalesce(1), tr)
      val n = s.count()
      s.unpersist()
      n
    }

    val recall = used.toSet.intersect(corpus.plantedPairs).size.toDouble / corpus.plantedPairs.size
    val byCluster = labels.groupBy(_._2).values.map(_.map { case (id, _) => corpus.clusterOf(id.toInt) }.distinct)
    val mixed = byCluster.count(cs => cs.length > 1 || cs.head < 0)
    val expectKept = corpus.docs.length - labels.length + byCluster.size
    val checks = Seq(
      check("dedup_recall", recall >= 0.99, f"recall $recall%.4f of ${corpus.plantedPairs.size} planted pairs"),
      check("no_cluster_merge", mixed == 0, s"$mixed clusters join different planted clusters"),
      check("cluster_count", byCluster.size == corpus.clusters,
        s"${byCluster.size} clusters found, ${corpus.clusters} planted"),
      check("keep_count", kept == expectKept, s"kept $kept docs, expected $expectKept"),
      check("builtin_words", words + (if (fault == "builtin") 1 else 0) == corpus.distinctWords,
        s"built-in word count $words, expected ${corpus.distinctWords}")) ++
      one.map { case (rows, _) =>
        check("one_task_identical", rows == corpus.docs.length, s"one-task signatures $rows")
      }
    val t = tSig + tLsh + tVerify + tCc + tKeep
    val n = corpus.docs.length.toDouble
    val (eff, tOne) = scaling(one, tSig)
    PassResult(n, t, eff, tBuiltin, tBuiltin + tOne, checks, Map(
      "dedup_docs_per_s" -> n / t, "dedup_recall" -> recall, "step.minhash_s" -> tSig,
      "step.lsh_s" -> tLsh, "step.verify_s" -> tVerify, "step.cc_s" -> tCc, "step.keep_s" -> tKeep,
      "step.builtin_s" -> tBuiltin) ++ one.map("step.minhash_1task_s" -> _._2))
  }
}
