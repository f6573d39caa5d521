package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * Attribution of a traced run's Spark jobs, stages and query executions
 * to the harness's ops, and the per-layer metrics derived from it.
 *
 * A job belongs to an op by, in order: the op-id local property it was
 * submitted under; a shuffle it reads that a job of a known op wrote
 * (pg-wire result jobs run outside the SQL execution that planned them);
 * its submission time falling inside exactly one op, or else the latest
 * op that started before it. A query execution belongs to the op of its
 * jobs, or else by the start time of its first planning phase.
 */
final class Analysis(ctx: Ctx, timedMs: Double) {
  val ops: Seq[Op] = ctx.opList
  private val rec = ctx.recorder.get
  val jobs: Seq[JobRec] = rec.jobs.values.asScala.toSeq.sortBy(_.id)
  private val qes: Seq[QeRec] = QeRecorder.records.asScala.toSeq
  private val opById = ops.map(o => o.id -> o).toMap

  private def byTime(ms: Double): Option[Long] = {
    val inside = ops.filter(o => ms >= o.startMs - 1.0 && ms <= o.endMs + 1.0)
    if (inside.isEmpty) None
    else Some(inside.maxBy(_.startMs).id)
  }

  val jobOp: Map[Int, Long] = {
    val out = scala.collection.mutable.Map.empty[Int, Long]
    val shuffleOp = scala.collection.mutable.Map.empty[Int, Long]
    jobs.foreach { j =>
      j.opProp.filter(opById.contains).foreach { o =>
        out(j.id) = o
        j.shuffleIds.foreach(s => shuffleOp.getOrElseUpdate(s, o))
      }
    }
    jobs.filterNot(j => out.contains(j.id)).foreach { j =>
      j.shuffleIds.flatMap(shuffleOp.get).headOption.orElse(byTime(j.submitMs.toDouble))
        .foreach { o =>
          out(j.id) = o
          j.shuffleIds.foreach(s => shuffleOp.getOrElseUpdate(s, o))
        }
    }
    out.toMap
  }

  val unattributedJobs: Int = jobs.count { j =>
    !jobOp.contains(j.id) && ops.nonEmpty && j.submitMs >= ops.head.startMs && j.submitMs <= ops.last.endMs
  }

  val jobsOf: Map[Long, Seq[JobRec]] = jobs.filter(j => jobOp.contains(j.id)).groupBy(j => jobOp(j.id))

  /** Each stage's tasks count once, under the first job that lists it. */
  private val stageJob: Map[Int, Int] =
    jobs.flatMap(j => j.stageIds.map(_ -> j.id)).groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).min }

  val stagesOf: Map[Long, Seq[StageAgg]] =
    rec.stages.asScala.toSeq.flatMap { case (sid, agg) =>
      stageJob.get(sid).flatMap(jobOp.get).map(_ -> agg)
    }.groupBy(_._1).map { case (o, xs) => o -> xs.map(_._2) }

  val qesOf: Map[Long, Seq[QeRec]] = {
    val execOp = jobs.flatMap(j => j.execId.flatMap(e => jobOp.get(j.id).map(e -> _))).toMap
    qes.flatMap { q =>
      val start = q.phases.values.map(_._1).minOption
      execOp.get(q.qeId).orElse(start.flatMap(s => byTime(s.toDouble))).map(_ -> q)
    }.groupBy(_._1).map { case (o, xs) => o -> xs.map(_._2) }
  }

  def phaseMs(op: Long, phase: String): Double =
    qesOf.getOrElse(op, Nil).flatMap(_.phases.get(phase)).map { case (s, e) => (e - s).toDouble }.sum

  private def clip(op: Op, s: Double, e: Double) = (math.max(s, op.startMs), math.min(e, op.endMs))

  def jobUnionMs(op: Op): Double =
    Intervals.unionLength(jobsOf.getOrElse(op.id, Nil).filter(_.endMs > 0)
      .map(j => clip(op, j.submitMs.toDouble, j.endMs.toDouble)))

  /** An op's timeline split into named parts; they sum to its wall time. */
  def timeline(op: Op): Map[String, Double] = {
    val phases = qesOf.getOrElse(op.id, Nil).flatMap(_.phases.values)
      .map { case (s, e) => clip(op, s.toDouble, e.toDouble) }
    val js = jobsOf.getOrElse(op.id, Nil).filter(_.endMs > 0)
      .map(j => clip(op, j.submitMs.toDouble, j.endMs.toDouble))
    val server = (phases ++ js).filter(x => x._2 >= x._1)
    val parts = Seq("parse" -> "parsing", "analysis" -> "analysis",
      "optimization" -> "optimization", "planning" -> "planning")
      .map { case (k, p) => k -> phaseMs(op.id, p) }.toMap
    if (server.isEmpty) parts ++ Map("jobs" -> 0.0, "driver_gap" -> 0.0, "before" -> op.wallMs,
      "after" -> 0.0, "accounted" -> 0.0)
    else {
      val first = server.map(_._1).min
      val last = server.map(_._2).max
      val covered = Intervals.unionLength(server)
      val jobsOnly = Intervals.unionLength(js)
      Map(
        "before" -> (first - op.startMs),
        "phases_union" -> Intervals.unionLength(phases),
        "jobs" -> jobsOnly,
        "driver_gap" -> ((last - first) - covered),
        "after" -> (op.endMs - last),
        "accounted" -> ((first - op.startMs) + (last - first) + (op.endMs - last)) / op.wallMs
      ) ++ parts
    }
  }

  private def perOp(f: Op => Double): Seq[Double] = ops.map(f)
  private def stageSum(op: Op)(f: StageAgg => Double): Double = stagesOf.getOrElse(op.id, Nil).map(f).sum

  def generic(spark: SparkSession, cores: Int): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val allStages = ops.flatMap(o => stagesOf.getOrElse(o.id, Nil))
    val tasks = allStages.map(_.tasks).sum.toDouble
    val reg = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      graft.sql.GraftFunctions.register(spark)
      (System.nanoTime() - t0) / 1e6
    }.drop(2)
    Map(
      "spark.jobs_per_op" -> ops.map(o => jobsOf.getOrElse(o.id, Nil).size).sum / n,
      "spark.stages_per_op" -> ops.map(o => stagesOf.getOrElse(o.id, Nil).size).sum / n,
      "spark.tasks_per_op" -> tasks / n,
      "spark.driver_gap_ms" -> Stats.median(perOp(o => o.wallMs - jobUnionMs(o))),
      "spark.sched_delay_ms" -> (if (tasks > 0) allStages.map(_.schedMs).sum / tasks else 0.0),
      "spark.task_ms" -> Stats.median(perOp(o => stageSum(o)(_.runMs.toDouble))),
      "spark.cpu_ms" -> Stats.median(perOp(o => stageSum(o)(_.cpuNs / 1e6))),
      "spark.gc_ms" -> allStages.map(_.gcMs).sum / n,
      "spark.core_util" -> allStages.map(_.runMs).sum / (timedMs * cores),
      "spark.input_bytes" -> allStages.map(_.inputBytes).sum / n,
      "spark.shuffle_read_bytes" -> allStages.map(_.shuffleRead).sum / n,
      "spark.shuffle_write_bytes" -> allStages.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> allStages.map(_.spill).sum / n,
      "sql.analysis_ms" -> Stats.median(perOp(o => phaseMs(o.id, "analysis"))),
      "sql.optimization_ms" -> Stats.median(perOp(o => phaseMs(o.id, "optimization"))),
      "sql.planning_ms" -> Stats.median(perOp(o => phaseMs(o.id, "planning"))),
      "sql.register_ms" -> Stats.median(reg),
      "trace.accounted_share" -> Stats.median(perOp(o => timeline(o)("accounted"))),
      "trace.unattributed_jobs" -> unattributedJobs.toDouble
    )
  }

  /** Timeline of the median-wall op of each kind, with its task time. */
  def breakdown: Map[String, Any] =
    ops.groupBy(_.kind).map { case (kind, xs) =>
      val med = xs.sortBy(_.wallMs).apply(xs.size / 2)
      kind -> (timeline(med) ++ Map(
        "wall" -> med.wallMs,
        "task_ms" -> stageSum(med)(_.runMs.toDouble),
        "cpu_ms" -> stageSum(med)(_.cpuNs / 1e6),
        "jobs_n" -> jobsOf.getOrElse(med.id, Nil).size.toDouble) ++ med.extra)
    }

  /** Jobs grouped by their `spark.job.description` label: (jobs, union ms). */
  def labels: Map[String, (Int, Double)] =
    jobs.filter(j => jobOp.contains(j.id) && j.endMs > 0).flatMap(j => j.desc.map(_ -> j))
      .groupBy(_._1).map { case (d, xs) =>
        d -> ((xs.size, Intervals.unionLength(xs.map(x => (x._2.submitMs.toDouble, x._2.endMs.toDouble)))))
      }
}

object Analysis {
  def apply(ctx: Ctx, timedMs: Double): Analysis = new Analysis(ctx, timedMs)
}
