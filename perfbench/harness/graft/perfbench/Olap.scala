package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.{GDimension, GMetric, GTable}
import graft.sources.{Rollup, TsLayout}

/**
 * olap_dashboard: BI clients issuing short time-series SQL over the
 * pg-wire frontend. Closed loop: each of `clients` connections sends its
 * next statement when the previous one reached ReadyForQuery. Events
 * live in the time-partitioned TsLayout; a day-grain rollup is
 * materialized and routed, so month/quarter aggregates read it.
 */
final class Olap extends Workload with AutoCloseable {
  import Olap._

  private var server: graft.wire.PgWireServer = _
  private var clients: Seq[PgClient] = Nil
  private var streams: Seq[Seq[Stmt]] = Nil
  private var layoutPath = ""
  private var rollPath = ""
  /** op id -> (sql, canonical hash of the wire result) for every execution. */
  private val wireHash = new ConcurrentHashMap[Long, (String, String)]()
  private val firstRows = new ConcurrentHashMap[String, Seq[Seq[String]]]()
  private val inProcessMs = new ConcurrentHashMap[String, java.lang.Double]()

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    val in = Json.read(s"${ctx.inputs}/statements.json")
    streams = Json.elems(in.get("clients")).map(c => Json.elems(c).map(Stmt.of))
    layoutPath = ctx.path("tables", "events_layout")
    rollPath = ctx.path("tables", "events_by_day")
    ctx.tracer.span("sources.TsLayout.write", 0L) {
      TsLayout.write(s.read.parquet(s"${ctx.inputs}/events"), EventsTable, layoutPath)
    }
    val facts = TsLayout.read(s, layoutPath)
    val roll = Rollup("events_by_day", graft.functions.F.truncDay(col("ts")), Seq(col("event_type")),
      Seq(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,4)")).as("v"),
        count(col("value")).as("cv")))
    ctx.tracer.span("sources.Rollup.materialize", 0L)(roll.materialize(facts, rollPath))
    graft.sql.RollupRoutes.clear()
    graft.sql.RollupRoutes.register(roll.deriveRoute(facts, layoutPath, rollPath).get)
    QeRecorder.planMarker.set("rollup_time") // a column only the rollup has
    // catalog tables, not temp views: every wire connection forks its
    // own session and only the shared catalog is visible across forks
    Seq("events" -> layoutPath, "users" -> s"${ctx.inputs}/users",
      "nation" -> s"${ctx.inputs}/nation", "region" -> s"${ctx.inputs}/region").foreach { case (t, p) =>
      s.sql(s"CREATE TABLE $t USING parquet LOCATION '$p'")
    }
    s.sql("MSCK REPAIR TABLE events") // register the ts_bucket partitions
    s.catalog.refreshTable("events")
    s.sql(s"CREATE USER '$User' WITH PASSWORD = '$Password' WITH ROLE = 'ADMIN'")
    server = new graft.wire.PgWireServer(s)
    server.start()
    clients = streams.indices.map { _ =>
      val c = new PgClient("127.0.0.1", server.getPort)
      c.login(User, Password)
      c
    }
    // warm-up: one statement of every template plus the panel set, spread
    // over the clients in parallel, so the timed phase starts on warm
    // code paths and cached table metadata
    val warm = (streams.flatten.groupBy(_.template).values.map(_.head).toSeq ++
      streams.flatten.filter(_.panel)).distinct
    parallel(clients.size) { ci =>
      warm.zipWithIndex.filter(_._2 % clients.size == ci).foreach { case (st, _) =>
        val r = clients(ci).query(st.sql)
        require(r.ok, s"warm-up failed for ${st.template}: ${r.errors.mkString}")
      }
    }
  }

  def run(ctx: Ctx, deadlineMs: Double): Unit =
    parallel(clients.size) { ci =>
      val c = clients(ci)
      val it = Iterator.continually(streams(ci)).flatten
      while (Clock.nowMs < deadlineMs) {
        val st = it.next()
        val id = ctx.newOpId()
        val text = if (ctx.trace) s"SET ${SparkRecorder.OpKey}=$id; ${st.sql}" else st.sql
        val r = c.query(text)
        val t0 = Clock.ms(r.startNs)
        val t1 = Clock.ms(r.firstFrameNs)
        val t2 = Clock.ms(r.endNs)
        val rows = r.rows.map(row => canonWire(row, r.fields.map(_._2)))
        wireHash.put(id, (st.sql, hash(rows)))
        firstRows.putIfAbsent(st.sql, rows)
        if (ctx.trace) {
          val parent = ctx.tracer.add("op.stmt", id, 0L, t0, t2)
          ctx.tracer.add("wire.exec", id, parent, t0, t1)
          ctx.tracer.add("wire.stream", id, parent, t1, t2)
        }
        ctx.addOp(Op(id, "stmt", st.template + (if (st.routable) "*" else ""), t0, t2, r.ok,
          r.rows.size.toLong,
          Map("wire.exec_ms" -> (t1 - t0), "wire.stream_ms" -> (t2 - t1), "wire.bytes_out" -> r.bytes.toDouble)))
        if (!r.ok) System.err.println(s"[perfbench] statement failed: ${r.errors.mkString}")
      }
    }

  /** Each distinct statement's wire result must equal the same query run
    * in process with rollup routes cleared; every execution is compared. */
  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    val distinct = wireHash.values.asScala.map(_._1).toSeq.distinct
    val expected = new ConcurrentHashMap[String, String]()
    val expectedRows = new ConcurrentHashMap[String, Seq[Seq[String]]]()
    if (ctx.trace) timeInProcess(s, distinct) // routes still registered: same plans as the wire
    graft.sql.RollupRoutes.clear()
    parallel(ctx.cores) { t =>
      distinct.zipWithIndex.filter(_._2 % ctx.cores == t).foreach { case (sql, _) =>
        val df = s.sql(sql)
        val rows = df.collect().toSeq.map(canonRow(_, df.schema))
        expected.put(sql, hash(if (ctx.corrupt) rows :+ Seq("corrupted") else rows))
        expectedRows.put(sql, rows)
      }
    }
    val bad = wireHash.asScala.filter { case (_, (sql, h)) => expected.get(sql) != h }
    bad.keys.foreach(id => ctx.wrong.add(id))
    val badSql = bad.values.map(_._1).toSeq.distinct
    badSql.take(3).foreach { q =>
      System.err.println(s"[perfbench] mismatch: $q\n  wire:       ${firstRows.get(q).take(5)}" +
        s"\n  in-process: ${expectedRows.get(q).take(5)}")
    }
    ctx.check("olap.wire_equals_unrouted", bad.isEmpty,
      s"${wireHash.size} executions of ${distinct.size} distinct statements; ${bad.size} mismatched" +
        badSql.headOption.map(q => s"; first: $q").getOrElse(""))
  }

  private def timeInProcess(s: SparkSession, distinct: Seq[String]): Unit =
    parallel(clients.size) { t =>
      distinct.zipWithIndex.filter(_._2 % clients.size == t).foreach { case (sql, _) =>
        val t0 = System.nanoTime()
        s.sql(sql).collect()
        inProcessMs.put(sql, (System.nanoTime() - t0) / 1e6)
      }
    }

  def metrics(ctx: Ctx, timedMs: Double): Map[String, Double] = {
    val ops = ctx.opList
    val lat = ops.map(_.wallMs)
    val (pct, tail) = Stats.tail(lat)
    val qps = ops.size / (timedMs / 1000.0)
    ctx.report("olap_qps") = (qps, "stmt/s")
    ctx.report("olap_p50_ms") = (Stats.median(lat), "ms")
    ctx.report("olap_tail_ms") = (tail, "ms")
    ctx.report("olap_tail_percentile") = (pct.toDouble, "percentile")
    ctx.report("olap_samples") = (lat.size.toDouble, "count")
    Map("throughput" -> qps, "p50_ms" -> Stats.median(lat), "tail_ms" -> tail)
  }

  def layerMetrics(ctx: Ctx, an: Analysis): Unit = {
    val ops = an.ops
    def med(k: String) = Stats.median(ops.flatMap(_.extra.get(k)))
    ctx.layer("wire.exec_ms") = (med("wire.exec_ms"), "ms")
    ctx.layer("wire.stream_ms") = (med("wire.stream_ms"), "ms")
    ctx.layer("wire.bytes_out") = (Stats.mean(ops.flatMap(_.extra.get("wire.bytes_out"))), "bytes")
    val byId = wireHash.asScala
    val over = ops.flatMap { o =>
      byId.get(o.id).flatMap { case (sql, _) =>
        if (o.tag.endsWith("*")) None else Option(inProcessMs.get(sql)).map(o.wallMs - _)
      }
    }
    ctx.layer("wire.overhead_ms") = (Stats.median(over), "ms")
    ctx.layer("sql.parse_ms") = (Stats.median(ops.map(o => an.phaseMs(o.id, "parsing"))), "ms")
    val routable = ops.filter(_.tag.endsWith("*"))
    val hits = routable.count(o => an.qesOf.getOrElse(o.id, Nil).exists(_.planText.nonEmpty))
    ctx.layer("sql.rollup_hit_ratio") =
      (if (routable.isEmpty) Double.NaN else hits.toDouble / routable.size, "ratio")
  }

  override def close(): Unit = {
    clients.foreach(c => try c.close() catch { case _: Throwable => () })
    if (server != null) server.stop()
  }
}

object Olap {
  val User = "bench"
  val Password = "bench-pw"

  val EventsTable: GTable = GTable("events", "ts",
    Seq(GDimension("event_type", StringType), GDimension("user_id", LongType)),
    Seq(GMetric("value", DoubleType)))

  final case class Stmt(template: String, routable: Boolean, panel: Boolean, sql: String)
  object Stmt {
    def of(n: com.fasterxml.jackson.databind.JsonNode): Stmt =
      Stmt(n.get("template").asText, n.get("routable").asBoolean, n.get("panel").asBoolean, n.get("sql").asText)
  }

  /** Run body(i) for i in 0 until n on n threads; rethrow the first failure. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = body(i) }))
      fs.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  def hash(rows: Seq[Seq[String]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      r.foreach { v => md.update(Option(v).getOrElse("\u0000NULL").getBytes("UTF-8")); md.update(1.toByte) }
      md.update(2.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private val TsText = """(\d{4}-\d{2}-\d{2}) (\d{2}:\d{2}:\d{2}(?:\.\d+)?)([+-]\d{2})(?::?(\d{2}))?""".r

  /** Wire text cell -> canonical form, by the column's type OID. */
  def canonWire(row: IndexedSeq[String], oids: Seq[Int]): Seq[String] =
    row.indices.map { i =>
      val v = row(i)
      if (v == null) null
      else oids.lift(i).getOrElse(25) match {
        case 20 | 21 | 23 => BigInt(v).toString
        case 700 | 701 => java.lang.Double.toString(v.toDouble)
        case 1700 => new java.math.BigDecimal(v).stripTrailingZeros.toPlainString
        case 16 => if (v == "t") "true" else "false"
        case 1184 | 1114 => v match {
          case TsText(d, t, oh, om) =>
            val off = oh + ":" + Option(om).getOrElse("00")
            val odt = java.time.OffsetDateTime.parse(s"${d}T$t$off")
            micros(odt.toInstant).toString
          case other => other
        }
        case _ => v
      }
    }

  private def micros(t: java.time.Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000

  /** In-process Row cell -> the same canonical form. */
  def canonRow(r: Row, schema: StructType): Seq[String] =
    schema.fields.indices.map { i =>
      if (r.isNullAt(i)) null
      else r.get(i) match {
        case x: java.lang.Long => x.toString
        case x: java.lang.Integer => x.toString
        case x: java.lang.Short => x.toString
        case x: java.lang.Double => java.lang.Double.toString(x)
        case x: java.lang.Float => java.lang.Double.toString(x.toDouble)
        case x: java.math.BigDecimal => x.stripTrailingZeros.toPlainString
        case x: java.lang.Boolean => x.toString
        case x: java.sql.Timestamp => micros(x.toInstant).toString
        case x: java.time.Instant => micros(x).toString
        case other => other.toString
      }
    }
}
