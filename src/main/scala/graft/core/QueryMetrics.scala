package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Query execution metrics, re-expressing the reference's query metric
 * collection (yupana-core dao/TsdbQueryMetricsDao.scala + metrics in
 * TsdbBase): per-query wall time, row counts and state, persisted for
 * operational analysis.
 *
 * graft hooks Spark's QueryExecutionListener: every successful/failed
 * action is recorded with its duration and the physical plan's row
 * metric. Records accumulate in memory; when the session names a
 * metrics store ([[QueryMetrics.StorePathKey]]) the SHOW/DELETE
 * statements FLUSH the session's records into that snapshot file and
 * serve from it — the reference's TsdbQueryMetricsDao persists every
 * query's metrics in the TSDB store, and this is the same contract at
 * statement granularity: metrics survive the session that produced
 * them ([[MetricsStore]]).
 */
final class QueryMetrics private (spark: SparkSession) {
  import QueryMetrics.Record

  private val records = new ConcurrentLinkedQueue[Record]()

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // the ROOT node under AQE is AdaptiveSparkPlanExec (and otherwise
      // often WholeStageCodegenExec), neither of which carries
      // numOutputRows — walk into the executed tree and take the
      // topmost node that has the metric, else the record is -1 for
      // virtually every query
      def rowsOf(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] = {
        val tree = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        tree.collectFirst {
          case n if n.metrics.contains("numOutputRows") => n.metrics("numOutputRows").value
        }
      }
      val rows = rowsOf(qe.executedPlan).getOrElse(-1L)
      records.add(Record(funcName, durationNs, rows, failed = false))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      records.add(Record(funcName, -1L, -1L, failed = true))
  }

  spark.listenerManager.register(listener)

  def snapshot(): Seq[Record] = records.asScala.toSeq

  def clear(): Unit = records.clear()

  /** Remove the first `n` records — exactly the prefix a preceding
    * [[snapshot]] captured (the listener appends at the TAIL, so
    * records arriving concurrently stay queued). The store-flush path
    * uses this instead of [[clear]], which would silently drop a
    * record landing between the snapshot and the wipe. */
  def drainFirst(n: Int): Unit = {
    var i = 0
    while (i < n && records.poll() != null) i += 1
  }

  /** Remove the records matching the predicate, returning how many —
    * the reference's filtered DELETE QUERY METRICS (MetricsFilter). */
  def removeWhere(p: Record => Boolean): Long = {
    var n = 0L
    val it = records.iterator()
    while (it.hasNext) if (p(it.next())) { it.remove(); n += 1 }
    n
  }

  def close(): Unit = spark.listenerManager.unregister(listener)
}

object QueryMetrics {
  final case class Record(funcName: String, durationNs: Long, outputRows: Long, failed: Boolean)

  /** Session conf naming a persistent metrics snapshot file (reference
    * dao/TsdbQueryMetricsDao — per-query metrics live in the store,
    * not the serving process); unset = session-memory only. */
  val StorePathKey = "graft.sql.metricsStore.path"

  def attach(spark: SparkSession): QueryMetrics = new QueryMetrics(spark)

  private val bySession =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, QueryMetrics]())

  /** Session-scoped metrics instance (attached on first use) — the
    * store behind the SHOW/DELETE QUERY METRICS SQL statements. */
  def forSession(spark: SparkSession): QueryMetrics =
    bySession.synchronized {
      Option(bySession.get(spark)).getOrElse {
        val m = attach(spark)
        bySession.put(spark, m)
        m
      }
    }
}

/**
 * The metrics snapshot file behind [[QueryMetrics.StorePathKey]] —
 * the [[graft.sql.UserRegistry]] control-plane discipline applied to
 * query metrics: one [[TsvStore]] `M` line per record, full-snapshot
 * writes staged to a private temp file and published with an atomic
 * overwrite rename, read-modify-write under the JVM lock (concurrent
 * processes are last-snapshot-wins, like the user store — the
 * reference delegates the same concern to its DB). The file is
 * bounded by [[MaxRows]] newest records so an unattended tier cannot
 * accrete it forever; DELETE QUERY METRICS reclaims explicitly.
 */
object MetricsStore {
  import QueryMetrics.Record

  /** Newest records kept per snapshot write (drop-oldest beyond it). */
  val MaxRows = 100000

  private def readAll(spark: SparkSession, path: String): Seq[Record] =
    TsvStore.read(spark, path).flatMap {
      case Array("M", fn, dur, rows, failed) =>
        try Some(Record(fn, dur.toLong, rows.toLong, failed == "1"))
        catch { case _: NumberFormatException => None } // corrupt row: skip
      case _ => None // unknown row kind: forward-compat skip
    }

  private def writeAll(spark: SparkSession, path: String, rows: Seq[Record]): Unit =
    TsvStore.write(spark, path, rows.takeRight(MaxRows).map { r =>
      Seq("M", r.funcName, r.durationNs.toString, r.outputRows.toString, if (r.failed) "1" else "0")
    })

  /** Append `fresh` to the snapshot and return the full record list
    * (store order = arrival order, oldest first). One locked
    * read-modify-write. */
  def flushAndRead(spark: SparkSession, path: String, fresh: Seq[Record]): Seq[Record] =
    this.synchronized {
      val all = readAll(spark, path) ++ fresh
      if (fresh.nonEmpty) writeAll(spark, path, all)
      all.takeRight(MaxRows)
    }

  /** Append `fresh`, then remove every stored record matching `p`;
    * returns how many went. One locked read-modify-write. */
  def flushAndRemove(
      spark: SparkSession, path: String, fresh: Seq[Record],
      p: Record => Boolean): Long = this.synchronized {
    val all = (readAll(spark, path) ++ fresh).takeRight(MaxRows)
    val kept = all.filterNot(p)
    writeAll(spark, path, kept)
    (all.size - kept.size).toLong
  }
}
