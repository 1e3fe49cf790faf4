package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for spans and listener events: epoch milliseconds as a
  * double, read from nanoTime against a fixed origin so span lengths keep
  * sub-millisecond precision while staying comparable with the
  * millisecond timestamps Spark puts on its events.
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

final case class Span(id: Int, name: String, parent: Int,
                      attrs: Map[String, String], start: Double, end: Double) {
  def dur: Double = end - start
}

final case class JobRec(id: Int, start: Double, desc: String)
final case class StageRec(start: Double, end: Double, tasks: Int, runMs: Long,
                          gcMs: Long, shuffleBytes: Long, spillBytes: Long)
final case class ActionRec(anchor: Double, analysisMs: Double, optimizationMs: Double,
                           planningMs: Double)

/** Spans recorded around the benchmark's calls into the program, plus
  * one SparkListener and one QueryExecutionListener whose events are
  * attributed to spans by timestamp. Nothing is recorded while `active`
  * is false, and the listeners are only registered for a traced run.
  */
final class Tracer(spark: SparkSession) {
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String, Map[String, String], Double)]
  private var nextId = 0
  var active = false

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val actions = new ConcurrentLinkedQueue[ActionRec]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
  /** Root SQL executions as (start, end). */
  val executions = new ConcurrentLinkedQueue[(Double, Double)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active)
      jobs.add(JobRec(e.jobId, e.time.toDouble,
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime) {
        val m = si.taskMetrics
        stages.add(StageRec(s.toDouble, c.toDouble, si.numTasks,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.jvmGCTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = if (active) e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        sqlStart.put(s.executionId, s.time.toDouble)
      case x: SparkListenerSQLExecutionEnd =>
        Option(sqlStart.remove(x.executionId)).foreach(t => executions.add((t, x.time.toDouble)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (active) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      // the action runs right after physical planning ends; earlier
      // phases may have run long before (eager analysis at construction)
      val anchor = ph.get(QueryPlanningTracker.PLANNING)
        .orElse(ph.values.maxByOption(_.endTimeMs))
        .map(_.endTimeMs.toDouble).getOrElse(Clock.nowMs)
      actions.add(ActionRec(anchor, ms(QueryPlanningTracker.ANALYSIS),
        ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Blocks until every posted listener event has been delivered, so the
    * last action of a run is not under-reported. `listenerBus` is
    * private[spark], hence reflection.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, attrs, Clock.nowMs) :: stack
      try body
      finally {
        val (_, _, _, start) = stack.head
        stack = stack.tail
        spans += Span(id, name, stack.headOption.map(_._1).getOrElse(-1), attrs, start,
          Clock.nowMs)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  private val StepDesc = """bfr r(\d+) (.+)""".r

  /** Splits every `bfr.run` span into `bfr.step` child spans at the jobs
    * whose description (`bfr r<round> <step>`, set by BFR.run) changes.
    * A step runs from its first job to the next step's first job, so
    * driver work before a step's first job counts to the step before it,
    * and the steps tile the run exactly.
    */
  def addBfrSteps(): Unit = {
    val js = jobs.asScala.toSeq.sortBy(_.start)
    for (r <- spans.filter(_.name == "bfr.run").toSeq) {
      val marks = js.filter(j => j.start >= math.floor(r.start) && j.start < math.floor(r.end))
        .collect { case j @ JobRec(_, t, StepDesc(round, step)) => (t, round, step) }
      // keep the first job of each run of equal descriptions
      val firsts = marks.zipWithIndex.collect {
        case (m, i) if i == 0 || (marks(i - 1)._2, marks(i - 1)._3) != (m._2, m._3) => m
      }
      for (((t, round, step), i) <- firsts.zipWithIndex) {
        val start = if (i == 0) r.start else t
        val end = if (i + 1 < firsts.size) firsts(i + 1)._1 else r.end
        spans += Span(nextId, "bfr.step", r.id, Map("step" -> step, "round" -> round),
          start, end)
        nextId += 1
      }
    }
  }
}

/** Per-span counts: everything whose timestamp falls inside the span's
  * interval (so a parent's counts include its children's).
  */
object Counts {
  def of(s: Span, t: Tracer, cores: Int): Map[String, Double] = {
    // events carry whole milliseconds: compare against floored bounds,
    // half-open so adjacent spans never both count one event
    val (lo, hi) = (math.floor(s.start), math.floor(s.end))
    def in(x: Double) = x >= lo && x < hi
    val js = t.jobs.asScala.filter(j => in(j.start))
    val st = t.stages.asScala.filter(x => in(x.start)).toSeq
    val ac = t.actions.asScala.filter(a => in(a.anchor))
    val ex = t.executions.asScala.filter(e => in(e._1)).toSeq
    val taskS = st.map(_.runMs).sum / 1000.0
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> st.size.toDouble,
      "tasks" -> st.map(_.tasks.toLong).sum.toDouble,
      "task_s" -> taskS,
      "gc_s" -> st.map(_.gcMs).sum / 1000.0,
      "shuffle_bytes" -> st.map(_.shuffleBytes).sum.toDouble,
      "spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "actions" -> ac.size.toDouble,
      "analysis_ms" -> ac.map(_.analysisMs).sum,
      "optimization_ms" -> ac.map(_.optimizationMs).sum,
      "planning_ms" -> ac.map(_.planningMs).sum,
      "sched_gap_s" -> ex.map { case (a, b) => (b - a) - covered(st, a, b) }.sum / 1000.0,
      "core_util" -> (if (s.dur > 0) taskS * 1000.0 / (s.dur * cores) else 0.0))
  }

  /** Length of [a, b] covered by at least one stage's running interval. */
  private def covered(st: Seq[StageRec], a: Double, b: Double): Double = {
    val iv = st.map(x => (math.max(a, x.start), math.min(b, x.end)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
