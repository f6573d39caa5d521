package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one workload run. */
final class Ctx(
    val spark: SparkSession,
    val root: String,
    val inputs: String,
    val trace: Boolean,
    val cores: Int,
    /** Corrupt every check's expected side, to prove the checks can fail. */
    val corrupt: Boolean) {
  val tracer = new Tracer(trace)
  val recorder: Option[SparkRecorder] = if (trace) Some(new SparkRecorder) else None
  private val opIds = new AtomicLong(0L)
  val ops = new ConcurrentLinkedQueue[Op]()
  private val checkLog = ArrayBuffer.empty[(String, Boolean, String)]

  /** Metrics by the names the workload defines for users (with units). */
  val report = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Layer metrics only this workload exercises (traced runs). */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  def newOpId(): Long = opIds.incrementAndGet()

  def path(parts: String*): String = Paths.get(root, parts: _*).toString

  /** Run `f` as one in-process op: the op id rides every Spark job it
    * submits from this thread, and a span named `op.<kind>` wraps it. */
  def runOp[T](kind: String, tag: String)(f: Long => (T, Long)): (T, Op) = {
    val id = newOpId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SparkRecorder.OpKey)
    sc.setLocalProperty(SparkRecorder.OpKey, id.toString)
    val t0 = Clock.nowMs
    try {
      val (out, items) = tracer.span(s"op.$kind", id)(f(id))
      val op = Op(id, kind, tag, t0, Clock.nowMs, ok = true, items)
      ops.add(op)
      (out, op)
    } catch {
      case e: Throwable =>
        ops.add(Op(id, kind, tag, t0, Clock.nowMs, ok = false, 0L))
        throw e
    } finally sc.setLocalProperty(SparkRecorder.OpKey, prev)
  }

  def addOp(op: Op): Unit = ops.add(op)

  private val stepLog = scala.collection.mutable.Map.empty[String, Seq[Double]]

  /** Time one call into a module as a span; calls inside a timed op
    * (op > 0) also feed [[stepMedianMs]]. */
  def step[T](op: Long, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val out = tracer.span(name, op)(f)
    if (op > 0) stepLog.synchronized {
      stepLog(name) = stepLog.getOrElse(name, Nil) :+ (System.nanoTime() - t0) / 1e6
    }
    out
  }

  def stepMedianMs(name: String): Double = Stats.median(stepLog.synchronized(stepLog.getOrElse(name, Nil)))

  /** Ops whose output a check found wrong; they count as failed. */
  val wrong: java.util.Set[Long] = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  def check(name: String, ok: Boolean, detail: String): Unit = synchronized {
    checkLog += ((name, ok, detail))
    System.err.println(s"[perfbench] check ${if (ok) "ok  " else "FAIL"} $name: $detail")
  }

  def checks: Seq[(String, Boolean, String)] = synchronized(checkLog.toSeq)
  def opList: Seq[Op] = ops.asScala.toSeq.sortBy(_.startMs)
}

/** A workload: set-up (timed as setup_s), a timed phase of `seconds`,
  * output checks outside the timed region, then its metrics. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx, deadlineMs: Double): Unit
  def verify(ctx: Ctx): Unit
  /** End-to-end metrics under the benchmark's generic names:
    * throughput (items/s), p50_ms and tail_ms. Also fills ctx.report. */
  def metrics(ctx: Ctx, timedMs: Double): Map[String, Double]
  /** Traced runs: workload-specific layer metrics into ctx.layer. */
  def layerMetrics(ctx: Ctx, analysis: Analysis): Unit
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val inputs = arg(args, "--inputs")
    val root = arg(args, "--root")
    val seconds = arg(args, "--seconds").toInt
    val trace = arg(args, "--trace") == "1"
    val result = arg(args, "--result")
    val spansOut = arg(args, "--spans")
    val cores = arg(args, "--cores").toInt
    val corrupt = arg(args, "--corrupt") == "1"

    val w: Workload = workload match {
      case "olap_dashboard" => new Olap
      case "corpus_curate" => new Curate
      case "ingest_admit" => new Ingest
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupStart = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(root, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(root, "warehouse").toString)
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
    if (trace) builder.config("spark.sql.queryExecutionListeners", classOf[QeRecorder].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, root, inputs, trace, cores, corrupt)
    ctx.recorder.foreach(spark.sparkContext.addSparkListener)
    var exit = 0
    try {
      w.setup(ctx)
      val setupS = (System.nanoTime() - setupStart) / 1e9

      val cal0 = if (trace) { Calibration.run(spark, cores); Calibration.run(spark, cores) } else 0L
      val heap = new HeapWatch
      heap.start()
      val t0 = Clock.nowMs
      w.run(ctx, t0 + seconds * 1000.0)
      val timedMs = Clock.nowMs - t0
      heap.finish()
      val cal1 = if (trace) Calibration.run(spark, cores) else 0L
      if (trace) org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      System.err.println(s"[perfbench] timed phase ${timedMs.round} ms, ${ctx.ops.size} ops")

      w.verify(ctx)
      val e2e = w.metrics(ctx, timedMs)
      val ops = ctx.opList
      val failed = ops.count(o => !o.ok || ctx.wrong.contains(o.id))
      ctx.report("fail_frac") = (if (ops.isEmpty) 1.0 else failed.toDouble / ops.size, "fraction")
      ctx.report("setup_s") = (setupS, "s")

      val layerJson: Map[String, Any] =
        if (!trace) Map.empty
        else {
          val an = Analysis(ctx, timedMs)
          w.layerMetrics(ctx, an)
          val m = an.generic(spark, cores) ++ Map(
            "jvm.heap_peak_mb" -> heap.peakMb,
            "host.cal_ms" -> (cal0 + cal1) / 2.0)
          ctx.layer("host.cal_start_ms") = (cal0.toDouble, "ms")
          ctx.layer("host.cal_end_ms") = (cal1.toDouble, "ms")
          ctx.tracer.writeJsonl(Paths.get(spansOut))
          val self = ctx.tracer.selfTimes.toSeq.sortBy(-_._2._3).map { case (n, (c, tot, self)) =>
            n -> Map("count" -> c, "total_ms" -> tot, "self_ms" -> self)
          }
          Map("per_layer" -> m, "spans_self" -> Json.Raw(Json.obj(self)),
            "breakdown" -> Json.Raw(Json.obj(an.breakdown.toSeq)))
        }

      val checks = ctx.checks
      val correct = checks.nonEmpty && checks.forall(_._2) && failed == 0
      if (!correct) exit = 1
      val out = Json.obj(Seq(
        "workload" -> workload,
        "correct" -> correct,
        "attempted" -> ops.size.toLong,
        "failed" -> failed.toLong,
        "setup_s" -> setupS,
        "timed_ms" -> timedMs,
        "e2e" -> e2e,
        "report" -> ctx.report.toSeq.map { case (k, (v, u)) => Map("name" -> k, "value" -> v, "unit" -> u) },
        "layer" -> ctx.layer.toSeq.map { case (k, (v, u)) => Map("name" -> k, "value" -> v, "unit" -> u) },
        "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
      ) ++ layerJson.toSeq)
      Files.write(Paths.get(result), out.getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 2
    } finally {
      try w match { case c: AutoCloseable => c.close(); case _ => () } catch { case _: Throwable => () }
      spark.stop()
    }
    System.exit(exit)
  }
}

/** graft.Bench's fixed calibration probe: 100M xxhash64 rows on all
  * cores. A diagnostic for host stretch, taken in traced runs only. */
object Calibration {
  def run(spark: SparkSession, cores: Int): Long = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 100000000L, 1L, cores)
      .select(pmod(xxhash64(col("id")), lit(1000000L)).as("h")).agg(sum(col("h"))).head()
    math.round((System.nanoTime() - t0) / 1e6).max(1L)
  }
}

/** Samples used heap every 50 ms during the timed phase. */
final class HeapWatch extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile private var live = true
  @volatile private var peak = 0L
  override def run(): Unit = {
    val rt = Runtime.getRuntime
    while (live) {
      peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
      Thread.sleep(50)
    }
  }
  def finish(): Unit = { live = false; join() }
  def peakMb: Double = peak / 1048576.0
}
