package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * comparable with the millisecond timestamps Spark's listeners carry. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** One timed operation of a workload: a statement, a pipeline pass, an
  * admitted batch or a freshness read. Times are [[Clock]] epoch ms. */
final case class Op(
    id: Long, kind: String, tag: String, startMs: Double, endMs: Double,
    ok: Boolean, items: Long, extra: Map[String, Double] = Map.empty) {
  def wallMs: Double = endMs - startMs
}

final case class Span(id: Long, name: String, parent: Long, op: Long, startMs: Double, endMs: Double)

/**
 * In-memory span recorder. A span wraps one call the harness makes into
 * a module's public function; nesting on one thread gives the parent.
 * Spans stay in memory and are written out once, when the run ends.
 * When disabled, `span` only runs its body.
 */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  // inheritable: threads an op starts (Jobs.par) nest their spans under it
  private val stack = new InheritableThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String, op: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, name, parent, op, Clock.ms(t0), Clock.ms(t1)))
      }
    }

  /** Record a span measured elsewhere (client-side wire timings). */
  def add(name: String, op: Long, parent: Long, startMs: Double, endMs: Double): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, parent, op, startMs, endMs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  /** name -> (count, total ms, self ms): self time is a span's duration
    * minus the part of it its child spans cover. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, xs) =>
      val total = xs.map(s => s.endMs - s.startMs).sum
      val self = xs.map { s =>
        val cover = Intervals.unionLength(
          kids.getOrElse(s.id, Nil).map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        (s.endMs - s.startMs) - cover
      }.sum
      name -> ((xs.size, total, self))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))).append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Intervals {
  /** Length of the union of [a, b] intervals (empty ones ignored). */
  def unionLength(xs: Seq[(Double, Double)]): Double = {
    val sorted = xs.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Per-stage task totals. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

final case class JobRec(
    id: Int, submitMs: Long, opProp: Option[Long], desc: Option[String], execId: Option[Long],
    stageIds: Seq[Int], shuffleIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Spark listener collecting jobs (with their local properties) and
  * per-stage task metrics. Attached only to traced runs. */
final class SparkRecorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, JobRec(e.jobId, e.time,
      prop(SparkRecorder.OpKey).flatMap(_.toLongOption),
      prop("spark.job.description"),
      prop("spark.sql.execution.id").flatMap(_.toLongOption),
      e.stageIds, e.stageInfos.flatMap(org.apache.spark.PerfbenchBridge.shuffleDepId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime)
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object SparkRecorder {
  /** Local property (and, through Spark's SQL-conf propagation, session
    * conf) carrying the harness op id into every job it causes. */
  val OpKey = "spark.perfbench.op"
}

final case class QeRec(qeId: Long, phases: Map[String, (Long, Long)], planText: String)

/** QueryExecutionListener registered through
  * `spark.sql.queryExecutionListeners`, so every session, including the
  * ones the pg-wire frontend forks per connection, reports to it. */
class QeRecorder extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    QeRecorder.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    QeRecorder.record(qe)
}

object QeRecorder {
  val records = new ConcurrentLinkedQueue[QeRec]()
  /** Substring that marks a plan as reading the rollup (set by the OLAP
    * workload to a column name only the rollup has). */
  val planMarker = new AtomicReference[String]("")

  def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) }
    val marker = planMarker.get
    val text =
      if (marker.isEmpty) ""
      else try { if (qe.executedPlan.toString.contains(marker)) marker else "" }
      catch { case _: Throwable => "" }
    records.add(QeRec(qe.id, phases, text))
  }
}
