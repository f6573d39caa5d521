package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.operators.{Ann, Dedup}
import graft.schema.{GDimension, GMetric, GTable}
import graft.sources.Upsert
import graft.streaming.{StreamingDedup, StreamingVectorAdmit}

/**
 * ingest_admit: a single writer admits one micro-batch per op (docs
 * through StreamingDedup, vectors through StreamingVectorAdmit, time
 * series rows through UPSERT INTO), waits for all three sinks, then
 * issues one freshness read. Every `CompactEvery`-th batch also
 * compacts the text index and the upsert log and promotes the vector
 * index delta; that work counts toward the batch.
 */
final class Ingest extends Workload with AutoCloseable {
  import Ingest._

  private var s: SparkSession = _
  private var textIdx, vecIdx, matches, log = ""
  private var docStream: MemoryStream[(Long, String)] = _
  private var vecStream: MemoryStream[(Long, Array[Float])] = _
  private var dedupQ: StreamingQuery = _
  private var vecQ: StreamingQuery = _
  private var batches: IndexedSeq[Batch] = _
  private var truth: IndexedSeq[com.fasterxml.jackson.databind.JsonNode] = _
  private var next = 0
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()
  private var listener: StreamingQueryListener = _
  private val readErrors = scala.collection.mutable.ArrayBuffer.empty[String]
  private var compactBytes = 0L
  private var logBytesWritten = 0L

  def setup(ctx: Ctx): Unit = {
    s = ctx.spark
    val spark = s
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    textIdx = ctx.path("text_index")
    vecIdx = ctx.path("vector_index")
    matches = ctx.path("dedup_matches")
    log = ctx.path("ts_log")
    truth = Json.elems(Json.read(s"${ctx.inputs}/truth.json").get("batches")).toIndexedSeq
    batches = loadBatches(ctx)

    // independent fixtures, built concurrently to keep set-up short
    graft.core.Jobs.par(s)(
      "perfbench:setup:text-index" -> { () =>
        ctx.tracer.span("operators.Dedup.buildTextIndex", 0L) {
          Dedup.buildTextIndex(s.read.parquet(s"${ctx.inputs}/base_docs"), "doc_id", "text", textIdx,
            threshold = Threshold)
        }
      },
      "perfbench:setup:vector-index" -> { () =>
        ctx.tracer.span("operators.Ann.buildIvfIndex", 0L) {
          Ann.buildIvfIndex(s, s.read.parquet(s"${ctx.inputs}/base_vectors"), vecIdx, numCells = 16)
        }
      },
      "perfbench:setup:upsert-log" -> { () =>
        ctx.tracer.span("sources.Upsert.appendVersion", 0L) {
          Upsert.appendVersion(s.read.parquet(s"${ctx.inputs}/base_ts"), log, 0L)
        }
      })
    graft.sql.UpsertTables.register(s, TsTable, log)

    if (ctx.trace) {
      listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val d = e.progress.durationMs
          progress.add(Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit")
            .flatMap(k => Option(d.get(k)).map(v => k -> v.doubleValue)).toMap)
        }
      }
      s.streams.addListener(listener)
    }
    docStream = MemoryStream[(Long, String)]
    vecStream = MemoryStream[(Long, Array[Float])]
    dedupQ = StreamingDedup.run(s, docStream.toDS().toDF("doc_id", "text"), textIdx, matches,
      threshold = Threshold, checkpoint = ctx.path("ck_dedup"))
    // drift-triggered rebuilds are off: the batches come from the base
    // distribution, and promotion is the scheduled maintenance instead
    vecQ = StreamingVectorAdmit.run(vecStream.toDS().toDF("vec_id", "embedding"), vecIdx,
      ctx.path("ck_vectors"), driftRetrainFraction = 2.0)

    // warm-up: one admission cycle with its maintenance, untimed
    admit(ctx, 0L, compact = true)
    freshRead(ctx, 0L, 0)
    next = 1
  }

  private def loadBatches(ctx: Ctx): IndexedSeq[Batch] = {
    val docs = s.read.parquet(s"${ctx.inputs}/batch_docs").collect().groupBy(_.getInt(0))
    val vecs = s.read.parquet(s"${ctx.inputs}/batch_vectors").collect().groupBy(_.getInt(0))
    val rows = s.read.parquet(s"${ctx.inputs}/batch_ts").collect().groupBy(_.getInt(0))
    docs.keys.toSeq.sorted.map { b =>
      Batch(
        docs(b).map(r => (r.getLong(1), r.getString(2))).toIndexedSeq,
        vecs(b).map(r => (r.getLong(1), r.getSeq[Float](2).toArray)).toIndexedSeq,
        upsertSql(rows(b).toIndexedSeq), rows(b).length)
    }.toIndexedSeq
  }


  /** Hand one batch to all three sinks and wait for every commit. */
  private def admit(ctx: Ctx, op: Long, compact: Boolean): Long = {
    val b = batches(next)
    docStream.addData(b.docs)
    vecStream.addData(b.vectors)
    val before = if (ctx.trace) dirBytes(log) else 0L
    ctx.step(op, "sql.UPSERT")(s.sql(b.upsert).collect())
    if (ctx.trace) logBytesWritten += math.max(0L, dirBytes(log) - before)
    ctx.step(op, "streaming.StreamingDedup.commit")(dedupQ.processAllAvailable())
    ctx.step(op, "streaming.StreamingVectorAdmit.commit")(vecQ.processAllAvailable())
    if (compact) maintain(ctx, op)
    (b.docs.size + b.vectors.size + b.rows).toLong
  }

  /** Compact the text index and the upsert log, promote the vector
    * delta. In set-up (op 0) the three run concurrently: they touch
    * disjoint directories, and set-up only needs them warm. */
  private def maintain(ctx: Ctx, op: Long): Unit = {
    val text = () => ctx.step(op, "sql.COMPACT_TEXT_INDEX")(s.sql(s"COMPACT TEXT INDEX '$textIdx'").collect())
    val upsert = () => {
      val pre = if (ctx.trace) dirBytes(log) else 0L
      ctx.step(op, "sources.Upsert.compact")(Upsert.compact(s, log, TsTable.columnNames.take(2)))
      if (ctx.trace && op > 0) {
        val rewritten = dirBytes(log, newest = true)
        compactBytes += rewritten
        logBytesWritten += rewritten
        System.err.println(s"[perfbench] compaction: log $pre -> ${dirBytes(log)} bytes")
      }
      graft.sql.UpsertTables.refreshView(s, TsTable.name)
    }
    val vectors = () =>
      ctx.step(op, "sql.PROMOTE_VECTOR_INDEX_DELTA")(s.sql(s"PROMOTE VECTOR INDEX DELTA '$vecIdx'").collect())
    if (op == 0L) graft.core.Jobs.par(s)("perfbench:setup:compact-text" -> { () => text(); () },
      "perfbench:setup:compact-upsert" -> upsert, "perfbench:setup:promote" -> { () => vectors(); () })
    else { text(); upsert(); vectors() }
  }

  /** The read after a commit: the upsert merge-on-read view, the batch's
    * admitted documents and the vector index's held ids. Returns the
    * mismatches against the generated ground truth. */
  private def freshRead(ctx: Ctx, op: Long, bi: Int): Seq[String] = {
    val spark = s
    import spark.implicits._
    val t = truth(bi)
    val shift = if (ctx.corrupt) 1L else 0L
    // the three reads share nothing, so the read issues them concurrently
    @volatile var view: Row = null
    @volatile var rejected = Set.empty[Long]
    @volatile var held: Row = null
    graft.core.Jobs.par(s)(
      "perfbench:read:upsert-view" -> { () =>
        view = ctx.step(op, "sources.Upsert.readLatest") {
          s.sql("SELECT count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents FROM ts_metrics").head()
        }
      },
      "perfbench:read:admitted-docs" -> { () =>
        rejected = ctx.step(op, "streaming.matches.read") {
          s.read.parquet(matches).filter(col("batch_id") === bi).select(col("new_id")).distinct()
            .as[Long].collect().toSet
        }
      },
      "perfbench:read:vector-ids" -> { () =>
        held = ctx.step(op, "operators.Ann.index.read") {
          vectorIds(s).agg(count(lit(1)), sum(col("item_id"))).head()
        }
      })
    val admitted = batches(bi).docs.map(_._1).filterNot(rejected).sorted
    val wantDocs = Json.elems(t.get("admitted_docs")).map(_.asLong).drop(shift.toInt)
    Seq(
      (view.getLong(0) == t.get("view_keys").asLong && view.getLong(1) == t.get("view_cents").asLong + shift) ->
        s"upsert view (${view.getLong(0)} keys, ${view.getLong(1)} cents) != " +
          s"(${t.get("view_keys").asLong}, ${t.get("view_cents").asLong})",
      (admitted == wantDocs) -> s"admitted docs ${admitted.size} != expected ${wantDocs.size}",
      (held.getLong(0) == t.get("held_vectors").asLong && held.getLong(1) == t.get("held_vector_id_sum").asLong + shift) ->
        s"vector index holds (${held.getLong(0)} ids, sum ${held.getLong(1)}) != " +
          s"(${t.get("held_vectors").asLong}, ${t.get("held_vector_id_sum").asLong})"
    ).collect { case (false, msg) => s"batch $bi: $msg" }
  }

  private def vectorIds(s: SparkSession): DataFrame = {
    val fs = new Path(vecIdx).getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = s.read.parquet(s"$vecIdx/assignments").select(col("item_id"))
    val delta = Ann.readableVecShardDirs(s, vecIdx)
    val all =
      if (delta.isEmpty || !fs.exists(new Path(s"$vecIdx/assignments_delta"))) base
      else base.unionByName(s.read.option("basePath", s"$vecIdx/assignments_delta")
        .parquet(delta.map(_.toString).toIndexedSeq: _*).select(col("item_id")))
    all.distinct()
  }

  /** Whole compaction cycles (CompactEvery batches, the last one
    * compacting), so every run admits the same mix of plain and
    * compacting batches. Another cycle starts only if one more cycle of
    * the last cycle's length still ends by the deadline. */
  def run(ctx: Ctx, deadlineMs: Double): Unit = {
    var cycleMs = 0.0
    while (next + CompactEvery <= batches.size && (cycleMs == 0.0 || Clock.nowMs + cycleMs <= deadlineMs)) {
      val c0 = Clock.nowMs
      (0 until CompactEvery).foreach { _ =>
        val bi = next
        val compact = bi % CompactEvery == 0
        ctx.runOp("batch", if (compact) "batch+compact" else "batch") { id => ((), admit(ctx, id, compact)) }
        next += 1
        val (bad, op) = ctx.runOp("read", "fresh") { id => (freshRead(ctx, id, bi), 3L) }
        if (bad.nonEmpty) ctx.wrong.add(op.id)
        readErrors ++= bad
      }
      cycleMs = Clock.nowMs - c0
    }
  }

  def verify(ctx: Ctx): Unit = {
    ctx.check("ingest.fresh_reads_match_truth", readErrors.isEmpty && next > 1,
      s"${next - 1} timed batches (plus one warm-up) checked after each commit; ${readErrors.size} mismatches" +
        readErrors.headOption.map(e => s"; first: $e").getOrElse(""))
    val healthy = dedupQ.exception.isEmpty && vecQ.exception.isEmpty
    ctx.check("ingest.streams_healthy", healthy != ctx.corrupt,
      (dedupQ.exception ++ vecQ.exception).map(_.getMessage).headOption.getOrElse("both streams alive"))
  }

  def metrics(ctx: Ctx, timedMs: Double): Map[String, Double] = {
    val ops = ctx.opList
    val commits = ops.filter(_.kind == "batch").map(_.wallMs)
    val reads = ops.filter(_.kind == "read").map(_.wallMs)
    val rows = ops.filter(_.kind == "batch").map(_.items).sum.toDouble
    val (pct, tail) = Stats.tail(commits)
    ctx.report("ingest_rows_per_s") = (rows / (timedMs / 1000.0), "rows/s")
    ctx.report("ingest_p50_ms") = (Stats.median(commits), "ms")
    ctx.report("ingest_tail_ms") = (tail, "ms")
    ctx.report("ingest_tail_percentile") = (pct.toDouble, "percentile")
    ctx.report("ingest_batches") = (commits.size.toDouble, "count")
    ctx.report("fresh_read_p50_ms") = (Stats.median(reads), "ms")
    ctx.report("space_amp") = (spaceAmp(ctx), "bytes/byte")
    Map("throughput" -> rows / (timedMs / 1000.0), "p50_ms" -> Stats.median(commits), "tail_ms" -> tail)
  }

  /** Bytes under the index and table dirs divided by the bytes of the
    * admitted input written once as plain parquet. */
  private def spaceAmp(ctx: Ctx): Double = {
    val spark = s
    import spark.implicits._
    val done = 0 until next
    val plain = ctx.path("plain")
    val docs = done.flatMap(bi => batches(bi).docs)
    val vecs = done.flatMap(bi => batches(bi).vectors)
    docs.toDF("doc_id", "text").write.parquet(s"$plain/docs")
    vecs.toDF("vec_id", "embedding").write.parquet(s"$plain/vectors")
    s.table(TsTable.name).write.parquet(s"$plain/ts")
    (dirBytes(textIdx) + dirBytes(vecIdx) + dirBytes(log) + dirBytes(matches)).toDouble / dirBytes(plain)
  }

  def layerMetrics(ctx: Ctx, an: Analysis): Unit = {
    val ps = progress.toArray(Array.empty[Map[String, Double]]).toSeq
    def pm(k: String) = Stats.median(ps.flatMap(_.get(k)))
    ctx.layer("stream.trigger_ms") = (pm("triggerExecution"), "ms")
    ctx.layer("stream.add_batch_ms") = (pm("addBatch"), "ms")
    ctx.layer("stream.planning_ms") = (pm("queryPlanning"), "ms")
    ctx.layer("stream.wal_ms") = (pm("walCommit"), "ms")
    // graft's own step labels (Jobs.desc); Spark's multi-line
    // micro-batch descriptions are covered by stream.*
    an.labels.toSeq.filter(_._1.matches("[A-Za-z0-9_.:+-]+")).sortBy(_._1).foreach { case (l, (n, ms)) =>
      ctx.layer(s"label.$l.ms") = (ms, "ms")
      ctx.layer(s"label.$l.jobs") = (n.toDouble, "count")
    }
    def med(n: String) = ctx.stepMedianMs(n)
    ctx.layer("store.upsert_append_ms") = (med("sql.UPSERT"), "ms")
    ctx.layer("store.read_latest_ms") = (med("sources.Upsert.readLatest"), "ms")
    ctx.layer("store.compact_ms") = (med("sources.Upsert.compact"), "ms")
    ctx.layer("store.compact_bytes_rewritten") = (compactBytes.toDouble, "bytes")
    val tsInput = dirBytes(ctx.path("plain", "ts"))
    ctx.layer("store.write_amp") = (if (tsInput > 0) logBytesWritten.toDouble / tsInput else Double.NaN, "bytes/byte")
    ctx.layer("store.files") = (dataFiles(log).toDouble, "count")
    ctx.layer("sql.parse_ms") = (Stats.median(an.ops.filter(_.kind == "batch").map(o => an.phaseMs(o.id, "parsing"))), "ms")
  }

  private def dirBytes(dir: String, newest: Boolean = false): Long = {
    val p = new java.io.File(dir)
    if (!p.exists()) 0L
    else {
      val roots =
        if (!newest) Seq(p)
        else p.listFiles().filter(_.getName.startsWith("__seq=")).sortBy(_.getName.stripPrefix("__seq=").toLong)
          .lastOption.toSeq
      roots.map { r =>
        java.nio.file.Files.walk(r.toPath).filter(f => java.nio.file.Files.isRegularFile(f))
          .mapToLong(f => java.nio.file.Files.size(f)).sum()
      }.sum
    }
  }

  private def dataFiles(dir: String): Long =
    java.nio.file.Files.walk(new java.io.File(dir).toPath)
      .filter(f => java.nio.file.Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).count()

  override def close(): Unit = {
    Seq(dedupQ, vecQ).filter(_ != null).foreach(q => try q.stop() catch { case _: Throwable => () })
    if (listener != null) s.streams.removeListener(listener)
  }
}

object Ingest {
  val Threshold = 0.5
  val CompactEvery = 2

  val TsTable: GTable = GTable("ts_metrics", "ts",
    Seq(GDimension("sensor", StringType)), Seq(GMetric("value", DoubleType)))

  final case class Batch(
      docs: IndexedSeq[(Long, String)], vectors: IndexedSeq[(Long, Array[Float])], upsert: String, rows: Int)

  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  def upsertSql(rows: Seq[Row]): String =
    rows.map { r =>
      val ts = TsFmt.format(r.getTimestamp(1).toInstant)
      s"(TIMESTAMP '$ts', '${r.getString(2)}', ${java.math.BigDecimal.valueOf(r.getDouble(3)).toPlainString})"
    }.mkString("UPSERT INTO ts_metrics (ts, sensor, value) VALUES ", ", ", "")
}
