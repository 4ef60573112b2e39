package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root (a request, append or
  * probe); `req` groups every span of one root. Times are epoch µs. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store: spans are appended at the benchmark's own call
  * sites and written out once, when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Span = { spans.add(s); s }

  /** Time `body` as a span named `name`; returns the result and the span. */
  def span[T](name: String, parent: Long, req: Long)(body: => T): (T, Span) = {
    val id = newId()
    val t0 = Clock.us
    val out = body
    (out, add(Span(id, parent, if (req == 0) id else req, name, t0, Clock.us)))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def children(parent: Long): Seq[Span] = all.filter(_.parent == parent)

  /** Duration minus the part of the interval that child spans cover. */
  def selfUs(s: Span, kids: Seq[Span]): Long = {
    val iv = kids.map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    s.durUs - covered
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    } finally w.close()
  }
}

/** Spark-side counters, recorded through Spark's public listener APIs. Every
  * record carries an epoch-ms time, so the benchmark attributes it to the
  * root span whose interval contains it (valid while roots run one at a
  * time). */
final class SparkRecorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import SparkRecorder._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  val queries = new ConcurrentLinkedQueue[Query]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.time, e.stageInfos.size))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.completionTime.getOrElse(System.currentTimeMillis()), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      execStart.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      Option(execStart.remove(x.executionId)).foreach(t0 => execs.add(Exec(t0, x.time)))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String): Option[(Long, Long)] = ph.get(n).map(p => (p.startTimeMs, p.endTimeMs))
    val plan = qe.executedPlan
    val scanned = collect(plan) {
      case p: SparkPlan if isScan(p) => metric(p, "numOutputRows")
    }.sum
    val out = collect(plan) { case p: SparkPlan => p }
      .find(_.metrics.contains("numOutputRows")).map(metric(_, "numOutputRows")).getOrElse(0L)
    queries.add(Query(phase("analysis"), phase("optimization"), phase("planning"), scanned, out))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkRecorder {
  final case class Job(timeMs: Long, stages: Int)
  final case class Stage(timeMs: Long, tasks: Int)
  final case class Task(timeMs: Long, runMs: Long, shuffleWrite: Long, spill: Long)
  final case class Exec(startMs: Long, endMs: Long)
  final case class Query(analysis: Option[(Long, Long)], optimization: Option[(Long, Long)],
                         planning: Option[(Long, Long)], scanRows: Long, outRows: Long) {
    def timeMs: Long = Seq(planning, optimization, analysis).flatten.headOption.map(_._2).getOrElse(0L)
  }

  private def isScan(p: SparkPlan): Boolean = {
    val n = p.nodeName
    n.contains("Scan") && !n.contains("Exchange")
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
}

/** Per-root rollup of everything the recorder saw inside a root span, plus
  * the child spans it contributes to the trace. */
final case class Attributed(analysisMs: Double, optimizationMs: Double, planningMs: Double,
                            execMs: Double, jobs: Int, stages: Int, tasks: Int, taskMs: Double,
                            shuffleWrite: Long, spill: Long, scanRows: Long, outRows: Long) {
  def +(o: Attributed): Attributed = Attributed(analysisMs + o.analysisMs,
    optimizationMs + o.optimizationMs, planningMs + o.planningMs, execMs + o.execMs,
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    shuffleWrite + o.shuffleWrite, spill + o.spill, scanRows + o.scanRows, outRows + o.outRows)
}

object Attributed {
  val zero: Attributed = Attributed(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Attribute the recorder's records to `roots` (non-overlapping, in time
    * order) and add the Spark phase spans under the root that owns them. */
  def apply(rec: SparkRecorder, tracer: Tracer, roots: Seq[Span]): Map[Long, Attributed] = {
    def owner(ms: Long): Option[Span] =
      roots.find(r => ms >= r.startUs / 1000 && ms <= (r.endUs + 999) / 1000)
    val acc = scala.collection.mutable.Map.empty[Long, Attributed].withDefaultValue(zero)
    def bump(ms: Long)(f: Attributed => Attributed): Option[Span] = {
      val o = owner(ms)
      o.foreach(r => acc(r.id) = f(acc(r.id)))
      o
    }
    def phaseSpan(name: String, iv: Option[(Long, Long)], under: Span): Unit =
      iv.foreach { case (a, b) =>
        tracer.add(Span(tracer.newId(), under.id, under.req, name, a * 1000, b * 1000))
      }
    rec.queries.asScala.foreach { q =>
      def d(iv: Option[(Long, Long)]) = iv.map { case (a, b) => (b - a).toDouble }.getOrElse(0.0)
      bump(q.timeMs)(a => a + zero.copy(analysisMs = d(q.analysis), optimizationMs = d(q.optimization),
        planningMs = d(q.planning), scanRows = q.scanRows, outRows = q.outRows))
        .foreach { under =>
          phaseSpan("spark.analysis", q.analysis, under)
          phaseSpan("spark.optimization", q.optimization, under)
          phaseSpan("spark.planning", q.planning, under)
        }
    }
    rec.execs.asScala.foreach { e =>
      bump(e.startMs)(a => a + zero.copy(execMs = (e.endMs - e.startMs).toDouble))
        .foreach(under => phaseSpan("spark.exec", Some((e.startMs, e.endMs)), under))
    }
    rec.jobs.asScala.foreach(j => bump(j.timeMs)(a => a + zero.copy(jobs = 1)))
    rec.stages.asScala.foreach(s => bump(s.timeMs)(a => a + zero.copy(stages = 1)))
    rec.tasks.asScala.foreach { t =>
      bump(t.timeMs)(a => a + zero.copy(tasks = 1, taskMs = t.runMs.toDouble,
        shuffleWrite = t.shuffleWrite, spill = t.spill))
    }
    acc.toMap
  }
}

/** JVM-level counters. */
object Jvm {
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set (VmHWM) of this process in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
