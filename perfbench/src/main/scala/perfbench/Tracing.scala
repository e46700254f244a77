package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a pass, a phase of it, a call into a library module, or a
  * Spark job or stage. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Records spans in memory while enabled. Phases set a Spark job group, so
  * the listener can hang each job (and its stages) under the phase that ran
  * it without touching any plan. A disabled tracer records nothing and sets
  * no job groups: untraced passes run the plain pipeline. */
final class Tracer(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var enabled = false
  private val listener = new TraceListener
  private val qListener = new PlanListener

  def start(): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qListener)
  }

  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qListener)
    enabled = false
  }

  def span[A](kind: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, kind, name, nowMs, Double.NaN)
      stack = id :: stack
      if (kind == "phase") spark.sparkContext.setJobGroup(s"$id:$name", name, interruptOnCancel = false)
      try body
      finally {
        if (kind == "phase") spark.sparkContext.clearJobGroup()
        stack = stack.tail
        spans(id) = spans(id).copy(end = nowMs)
      }
    }

  /** A root span (one pass); returns the body's value and the span id. */
  def root[A](name: String)(body: => A): (A, Int) = {
    val id = spans.length
    (span("pass", name)(body), id)
  }

  private val jobsSeen = ArrayBuffer.empty[JobRec]
  private val stagesSeen = ArrayBuffer.empty[StageRec]

  /** Plan-layer figures of the pass whose root span is `passId`: every
    * event the listeners took since the last call. Call after [[stop]]. */
  def passStats(passId: Int): Map[String, Double] = {
    val pass = spans(passId)
    def take[T](q: java.util.concurrent.ConcurrentLinkedQueue[T]): Seq[T] = {
      val out = ArrayBuffer.empty[T]
      var x = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.toSeq
    }
    val jobs = take(listener.jobs)
    val stages = take(listener.stages)
    val tasks = take(listener.tasks)
    val queries = take(qListener.queries)
    jobsSeen ++= jobs
    stagesSeen ++= stages
    val longest = if (stages.isEmpty) None else Some(stages.maxBy(s => s.end - s.start))
    val skew = longest.map { st =>
      val ds = tasks.filter(_.stageId == st.stageId).map(_.dur).sorted
      if (ds.isEmpty) 1.0 else ds.last / math.max(1.0, ds(ds.length / 2))
    }.getOrElse(1.0)
    val schedWait = stages.map { st =>
      val launches = tasks.filter(_.stageId == st.stageId).map(_.launch)
      if (launches.isEmpty) 0.0 else math.max(0.0, launches.min - st.start)
    }.sum
    val jobCover = Tracer.unionLength(jobs.map(j => (j.start, j.end)))
    Map(
      "exchanges" -> queries.map(_.exchanges).sum.toDouble,
      "shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "task_skew" -> skew,
      "literal_bytes" -> queries.map(_.literalBytes).sum.toDouble,
      "deser_s" -> tasks.map(_.deserMs).sum / 1e3,
      "planning_s" -> queries.map(_.planningMs).sum / 1e3,
      "jobs" -> jobs.size.toDouble,
      "stages" -> stages.size.toDouble,
      "tasks" -> tasks.size.toDouble,
      "sched_wait_s" -> schedWait / 1e3,
      "task_busy_s" -> tasks.map(_.runMs).sum / 1e3,
      "task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "driver_s" -> math.max(0.0, pass.dur - jobCover) / 1e3)
  }

  /** Every recorded span plus the Spark job and stage spans, each job
    * hung under the phase whose job group it carries. */
  def allSpans: Seq[Span] = {
    val out = ArrayBuffer.empty[Span] ++= spans
    val stageParent = scala.collection.mutable.Map.empty[Int, Int]
    jobsSeen.foreach { j =>
      val parent = j.group.flatMap(g => g.takeWhile(_ != ':').toIntOption).getOrElse(-1)
      val id = out.length
      out += Span(id, parent, "job", s"job ${j.jobId}", j.start, j.end)
      j.stageIds.foreach(s => stageParent(s) = id)
    }
    stagesSeen.foreach { s =>
      out += Span(out.length, stageParent.getOrElse(s.stageId, -1), "stage",
        s"stage ${s.stageId}", s.start, s.end)
    }
    out.toSeq
  }

  /** Writes every span with its self time (duration minus the union of
    * its children) as one JSON document. */
  def write(file: java.io.File): Unit = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    def self(s: Span): Double =
      s.dur - Tracer.unionLength(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      w.println("{\"spans\":[")
      w.println(all.map { s =>
        f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
          f""""start_ms":${s.start}%.3f,"dur_ms":${s.dur}%.3f,"self_ms":${self(s)}%.3f}"""
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }

  /** Median duration in seconds of each phase span, by phase name. */
  def phaseTimes: Map[String, Double] =
    spans.toSeq.filter(_.kind == "phase").groupBy(_.name).map { case (name, ss) =>
      name -> Main.median(ss.map(_.dur / 1e3))
    }
}

object Tracer {
  /** The plan-layer figures [[Tracer.passStats]] returns, per pass. */
  val PlanNames: Seq[String] = Seq("exchanges", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "task_skew", "literal_bytes", "deser_s", "planning_s", "jobs", "stages",
    "tasks", "sched_wait_s", "task_busy_s", "task_cpu_s", "gc_s", "driver_s")

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class JobRec(jobId: Int, group: Option[String], start: Double, end: Double, stageIds: Seq[Int])
final case class StageRec(stageId: Int, start: Double, end: Double)
final case class TaskRec(stageId: Int, launch: Double, dur: Double, runMs: Double, cpuNs: Double,
    gcMs: Double, deserMs: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class QueryRec(exchanges: Int, literalBytes: Long, planningMs: Double)

/** Jobs, stages and tasks with their metrics. */
final class TraceListener extends SparkListener {
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    open.put(e.jobId, JobRec(e.jobId, group, e.time.toDouble, Double.NaN, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time.toDouble)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages.add(StageRec(i.stageId, s.toDouble, c.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime.toDouble, e.taskInfo.duration.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime.toDouble, m.jvmGCTime.toDouble,
        m.executorDeserializeTime.toDouble, m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
}

/** Exchange count, plan-literal bytes and planning time of every executed
  * query, read from its final (adaptive) physical plan. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan: SparkPlan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    var literalBytes = 0L
    foreach(plan) { node =>
      node.expressions.foreach(_.foreach {
        case Literal(b: Array[Byte], _) => literalBytes += b.length
        case _ =>
      })
    }
    val planningMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    queries.add(QueryRec(exchanges, literalBytes, planningMs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
