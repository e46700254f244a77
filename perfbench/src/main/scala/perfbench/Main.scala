package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point. `run.py` builds the classpath and calls
  * it as
  *
  *   perfbench.Main --workload <build|probe|dedup> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> [--scale <x>] [--fault <name>]
  *
  * It generates the workload's inputs from the seed before any clock
  * starts, sets up three times (session start and input load), runs
  * checked warm-up passes, then runs checked passes for `--seconds`. The
  * last stdout line is the result JSON: the end-to-end metrics untraced,
  * the per-layer metrics traced. */
object Main {

  val PerLayer: Seq[(String, String)] = Seq(
    "core.siphash_ns" -> "ns", "core.bloom_insert_ns" -> "ns", "core.bloom_contains_ns" -> "ns",
    "core.cms_add_ns" -> "ns", "core.kmv_add_ns" -> "ns", "core.bloom_union_us" -> "us",
    "core.minhash_sig_us" -> "us",
    "operators.fused_reduce_ns" -> "ns", "operators.hll_reduce_ns" -> "ns",
    "operators.bloom_merge_us" -> "us", "operators.sketch_finish_us" -> "us",
    "operators.sketch_bytes" -> "bytes") ++
    Tracer.PlanNames.map { n =>
      "plans." + n -> (if (n.endsWith("_s")) "s" else if (n.endsWith("_bytes")) "bytes"
        else if (n == "task_skew") "ratio" else "count")
    } ++ Seq("plans.scaling_eff" -> "ratio", "host.cotenancy_mhs" -> "Mhash/s", "trace.overhead" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, scale: Double, fault: String)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStart = System.nanoTime()

  /** A progress line, stamped with the seconds since the JVM started. */
  private def log(msg: String): Unit = println(f"[perfbench ${seconds(jvmStart)}%6.1f] $msg")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), m.getOrElse("scale", "1").toDouble, m.getOrElse("fault", ""))
  }

  private def session(nproc: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(new File(work, "checkpoint").getAbsolutePath)
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The co-tenancy lap: `graft.tools.ScaleProbe.work` (the frozen bench's
    * co-tenancy probe) on `nproc` threads at once, in aggregate Mhash/s. A
    * pass uses every core, and on a shared host cores slow down
    * independently, so the lap does too. A dip against other runs flags
    * a contended window. */
  private def cotenancyLap(nproc: Int): Double = {
    val iters = 2000000L
    val t0 = System.nanoTime()
    val threads = (1 to nproc).map { _ =>
      val t = new Thread(() => { val h = graft.tools.ScaleProbe.work(iters); Layers.sink ^= h })
      t.start()
      t
    }
    threads.foreach(_.join())
    nproc * iters / seconds(t0) / 1e6
  }

  /** Counts every check of every pass, warm-up passes included. */
  private final class Ledger {
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer.empty[String]
    def add(r: PassResult): Unit = r.checks.foreach { c =>
      attempted += 1
      if (!c.ok) { failed += 1; if (failures.length < 20) failures += s"${c.name}: ${c.detail}" }
    }
  }

  final case class Timed(result: PassResult, wall: Double, cotenancy: Double)

  /** One checked pass after a co-tenancy lap. Its wall time leaves out
    * the steps run beside the result: the built-in yardstick and the
    * one-task repeat. */
  private def timedPass(wl: Workload, spark: SparkSession, tr: Tracer, oneTask: Boolean): Timed = {
    val coten = cotenancyLap(wl.nproc)
    val t0 = System.nanoTime()
    val r = wl.pass(spark, tr, oneTask)
    Timed(r, seconds(t0) - r.asideSeconds, coten)
  }

  /** Checked warm-up passes: at least two, for at least half of the
    * measured time. After a JVM start, pass times kept falling for about
    * five passes. */
  private def warmUp(wl: Workload, spark: SparkSession, a: Args, ledger: Ledger, oneTask: Boolean): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 2 || seconds(t0) < a.seconds / 2) {
      ledger.add(wl.pass(spark, new Tracer(spark), oneTask))
      n += 1
    }
    log(f"${wl.name}: $n warm-up passes in ${seconds(t0)}%.1f s")
  }

  /** The measured loop ends after `budget` seconds and `min` passes, or
    * after twice the budget and one pass, so a slow host cannot push a
    * run past its time limit. */
  private def enoughPasses(t0: Long, budget: Double, n: Int, min: Int): Boolean =
    (seconds(t0) >= budget && n >= min) || (seconds(t0) >= 2 * budget && n >= 1)

  private def figureMedians(ps: Seq[Timed]): Map[String, Double] =
    ps.flatMap(_.result.figures.keys).distinct.map(k =>
      k -> median(ps.flatMap(_.result.figures.get(k)))).toMap

  private def fmt(x: Double): String = x.toString

  private def json(ledger: Ledger, metrics: Seq[(String, String, Double)]): String = {
    val ms = metrics.map { case (n, u, v) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }
    s"""{"correct":${ledger.failed == 0},"attempted":${ledger.attempted},""" +
      s""""failed":${ledger.failed},"metrics":{${ms.mkString(",")}}}"""
  }

  private def writeSidecar(file: File, wl: Workload, a: Args, metrics: Seq[(String, String, Double)],
      figures: Map[String, Double], passes: Seq[Timed]): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      val ms = (metrics.map { case (n, _, v) => n -> v } ++ figures.toSeq.sortBy(_._1))
        .map { case (n, v) => s""""$n":${fmt(v)}""" }
      val ps = passes.map { p =>
        val fs = p.result.figures.toSeq.sortBy(_._1).map { case (n, v) => s""","$n":${fmt(v)}""" }
        s"""{"wall_s":${fmt(p.wall)},"cotenancy_mhs":${fmt(p.cotenancy)}${fs.mkString}}"""
      }
      w.println(s"""{"workload":"${wl.name}","seed":${a.seed},"trace":${a.trace},""" +
        s""""metrics":{${ms.mkString(",")}},"passes":[${ps.mkString(",")}]}""")
    } finally w.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val tGen = System.nanoTime()
    val wl = Workload(a.workload, a.seed, a.scale, nproc, a.fault)
    wl.sampleTokens; wl.sampleWords
    (1 to 5).foreach(_ => cotenancyLap(nproc)) // JIT-compile the lap before it is read
    log(f"${wl.name}: inputs from seed ${a.seed} in ${seconds(tGen)}%.2f s, local[$nproc]")
    val ledger = new Ledger
    val (line, spark) = if (a.trace) traced(wl, a, nproc, ledger) else untraced(wl, a, nproc, ledger)
    stop(spark)
    ledger.failures.foreach(f => log(s"CHECK FAILED $f"))
    println(line)
    System.out.flush()
    // Spark can leave non-daemon threads behind; the run is over.
    System.exit(0)
  }

  /** One set-up: session start and input load. */
  private def setup(wl: Workload, a: Args, nproc: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(nproc, a.work)
    wl.load(spark)
    (spark, seconds(t0))
  }

  private def untraced(wl: Workload, a: Args, nproc: Int, ledger: Ledger): (String, SparkSession) = {
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to 3).foreach { _ =>
      if (spark != null) stop(spark)
      val (s, t) = setup(wl, a, nproc)
      spark = s
      setups += t
      log(f"${wl.name}: set-up $t%.3f s")
    }
    warmUp(wl, spark, a, ledger, oneTask = false)
    val tr = new Tracer(spark)
    val passes = ArrayBuffer.empty[Timed]
    val t0 = System.nanoTime()
    while (!enoughPasses(t0, a.seconds, passes.length, 3)) {
      val p = timedPass(wl, spark, tr, oneTask = false)
      ledger.add(p.result)
      passes += p
    }
    val ps = passes.toSeq
    val metrics = Seq(
      ("setup_s", "s", median(setups.toSeq)),
      ("wall_vs_builtin", "ratio", median(ps.map(p => p.wall / p.result.builtinSeconds))))
    // absolute figures: printed and kept in the sidecar, not in the result
    val figures = figureMedians(ps) ++ Map(
      "wall_s" -> median(ps.map(_.wall)),
      "items_per_s" -> median(ps.map(p => p.result.items / p.result.itemSeconds)),
      "host.cotenancy_mhs" -> median(ps.map(_.cotenancy)))
    log(s"${wl.name}: setups ${setups.map(x => f"$x%.3f").mkString(" ")} s, ${passes.length} passes")
    (metrics ++ figures.toSeq.sortBy(_._1).map { case (k, v) => (k, "", v) }).foreach { case (n, _, v) =>
      log(f"  $n%-28s $v%.6g")
    }
    writeSidecar(new File(a.work, s"result-${wl.name}-${a.seed}.json"), wl, a, metrics, figures, passes.toSeq)
    (json(ledger, metrics), spark)
  }

  /** The traced run: kernel and operator loops, then untraced and traced
    * passes alternately. Spans go to `trace-<workload>-<seed>.json`. */
  private def traced(wl: Workload, a: Args, nproc: Int, ledger: Ledger): (String, SparkSession) = {
    val (spark, _) = setup(wl, a, nproc)
    warmUp(wl, spark, a, ledger, oneTask = true)
    val layers = Layers.core(wl.sampleTokens, wl.sampleWords) ++ Layers.operators(wl.sampleDocs)
    val tr = new Tracer(spark)
    val plain = ArrayBuffer.empty[Timed]
    val withTrace = ArrayBuffer.empty[(Timed, Map[String, Double])]
    def tracedPass(): Unit = {
      tr.start()
      val (q, id) = tr.root(s"${wl.name}.pass")(timedPass(wl, spark, tr, oneTask = true))
      tr.stop()
      ledger.add(q.result)
      withTrace += q -> tr.passStats(id)
    }
    val t0 = System.nanoTime()
    while (!enoughPasses(t0, a.seconds, math.min(plain.length, withTrace.length), 2)) {
      // alternate which side goes first, so warm-up drift cancels
      val tracedFirst = plain.length % 2 == 1
      if (tracedFirst) tracedPass()
      val p = timedPass(wl, spark, tr, oneTask = true)
      ledger.add(p.result)
      plain += p
      if (!tracedFirst) tracedPass()
    }
    val plans = Tracer.PlanNames.map(n => s"plans.$n" -> median(withTrace.map(_._2(n)).toSeq))
    val all = (plain ++ withTrace.map(_._1)).toSeq
    val diag = Seq(
      "plans.scaling_eff" -> median(all.map(_.result.scaling)),
      "host.cotenancy_mhs" -> median(all.map(_.cotenancy)),
      "trace.overhead" -> median(withTrace.map(_._1.wall).toSeq) / median(plain.map(_.wall).toSeq))
    val values = (layers.toSeq ++ plans ++ diag).toMap
    val metrics = PerLayer.map { case (n, u) => (n, u, values(n)) }
    val phases = tr.phaseTimes.map { case (k, v) => s"phase.${k}_s" -> v }
    tr.write(new File(a.work, s"trace-${wl.name}-${a.seed}.json"))
    log(s"${wl.name}: ${plain.length} untraced + ${withTrace.length} traced passes")
    (metrics.map { case (n, _, v) => n -> v } ++ phases.toSeq.sortBy(_._1)).foreach { case (n, v) =>
      log(f"  $n%-34s $v%.6g")
    }
    writeSidecar(new File(a.work, s"result-${wl.name}-${a.seed}-trace.json"), wl, a, metrics,
      phases ++ figureMedians(withTrace.map(_._1).toSeq), all)
    (json(ledger, metrics), spark)
  }
}
