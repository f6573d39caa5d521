package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.operators.{Ann, AsOf, Curation, Dedup, InvertedIndex, Multimodal, Packing, Retrieval, TextAnalysis}
import graft.schema.TestSchema
import graft.core.QueryBuilder
import graft.sources.{Rollup, TsLayout}
import graft.streaming.Ingest

/**
 * Driver contract — SURVEY.md §2 is the inventory these keys cover.
 *
 * Cross-engine determinism rules (SURVEY.md §6): every query carries a
 * total ORDER BY; double aggregation goes through DECIMAL then casts
 * back to double (exact + associative on both engines); computed int
 * columns are cast to BIGINT on both sides; approximate/hash-seeded
 * operators are declared without oracle SQL (rows-only check).
 */
object SparkEntry {

  private def ld(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.sql.GraftFunctions.register(s)
    graft.sql.GraftFunctions.installTopKStrategy(s)
    // UTC unconditionally (not just for events): the external driver's
    // session is not pre-configured, and setting the zone as a side
    // effect of one table would make timestamp semantics depend on
    // which query ran first in the session.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    if (name == "events") {
      // events.parquet has shipped ts as TIMESTAMP(NANOS) (vectorized
      // reader rejects it; read ns-as-long) and as µs TIMESTAMP_NTZ;
      // EventTime canonicalizes either to TimestampType (the NTZ→LTZ
      // cast is value-preserving under the UTC session set above).
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.sources.EventTime.normalizeTs(s.read.parquet(s"$dir/$name.parquet"))
    } else s.read.parquet(s"$dir/$name.parquet")
  }

  /** Exact double aggregation: sum in DECIMAL(18,4), back to double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Exact money arithmetic: 2-dp fixed point (reference Currency). */
  private def money(c: Column): Column = c.cast("decimal(18,2)")

  /** revenue = extendedprice * (1 - discount), exact decimal algebra. */
  private def revenue: Column =
    money(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_link")(spark, "/root/testdata/sf0.001")

  // ==================================================================
  // §2.1 aggregations
  // ==================================================================

  private def qAggSumMinMax(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("cnt")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private def qAggAvg(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        (dsum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(col("l_extendedprice"))).as("avg_price")
      )
      .orderBy(col("l_returnflag"))

  private def qAggDistinctCount(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp")
      )
      .orderBy(col("l_returnflag"))

  /**
   * HLL++ approximate distinct (reference HLLCountExpr). The estimate
   * itself is engine-specific, so the gate checks the property that
   * matters: the HLL estimate lands within 5% of the exact distinct
   * count (rsd is configured at 2%; measured error at sf0.01/0.1 is
   * ~1%). The exact count cross-checks DuckDB; the boolean turns an
   * unverifiable approximation into a driver-hashable accuracy bound.
   */
  private def qAggHllCount(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        approx_count_distinct(col("l_partkey"), 0.02).as("hll"))
      .select(
        col("l_returnflag"),
        col("nd_part"),
        (abs(col("hll") - col("nd_part")).cast("double") / col("nd_part") <= lit(0.05)).as("hll_within_5pct"))
      .orderBy(col("l_returnflag"))

  /**
   * Reference DistinctRandomExpr: an arbitrary element of the distinct
   * set. graft picks the element with the smallest md5 — "random" in
   * distribution but deterministic, so the choice is exactly
   * reproducible in the oracle (DuckDB min_by over the same md5 hex).
   */
  private def qAggDistinctRandom(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(min_by(col("l_partkey"), md5(col("l_partkey").cast("string"))).as("random_part"))
      .orderBy(col("l_returnflag"))

  /** Sample stddev/variance via explicit decimal-sum formula (engine-portable). */
  private def qAggStats(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_quantity")).as("sum_q"),
        sum((col("l_quantity") * col("l_quantity")).cast("decimal(24,8)")).cast("double").as("sumsq_q"),
        count(col("l_quantity")).as("n")
      )
      .select(
        col("l_returnflag"),
        // explicit n > 1 guard: sample variance is undefined for a
        // single-row group, and the engines disagree on the raw /0
        // (Spark non-ANSI Divide → NULL, DuckDB IEEE → Inf/NaN) — the
        // guard makes NULL the answer on BOTH engines for any corpus,
        // not just ones where every group happens to have ≥ 2 rows
        when(col("n") > 1,
          (col("sumsq_q") - (col("sum_q") * col("sum_q")) / col("n")) / (col("n") - 1)).as("var_qty"),
        when(col("n") > 1,
          sqrt((col("sumsq_q") - (col("sum_q") * col("sum_q")) / col("n")) / (col("n") - 1))).as("std_qty")
      )
      .orderBy(col("l_returnflag"))

  /** Left-semi / left-anti joins (EXISTS / NOT EXISTS). */
  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = ld(s, dir, "customer")
    val orders = ld(s, dir, "orders")
    val withOrders = cust
      .join(orders, cust("c_custkey") === orders("o_custkey"), "leftsemi")
      .select(lit("with_orders").as("kind"), col("c_custkey"))
    val withoutOrders = cust
      .join(orders, cust("c_custkey") === orders("o_custkey"), "leftanti")
      .select(lit("no_orders").as("kind"), col("c_custkey"))
    withOrders.unionByName(withoutOrders)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("kind"))
  }

  /** Set operations: UNION / INTERSECT / EXCEPT semantics. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val clickers = ld(s, dir, "events").filter(col("event_type") === "click").select(col("user_id")).distinct()
    val buyers = ld(s, dir, "events").filter(col("event_type") === "purchase").select(col("user_id")).distinct()
    val u = clickers.union(buyers).distinct().select(lit("union").as("op"), col("user_id"))
    val i = clickers.intersect(buyers).select(lit("intersect").as("op"), col("user_id"))
    val e = clickers.except(buyers).select(lit("except").as("op"), col("user_id"))
    u.unionByName(i).unionByName(e)
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("op"))
  }

  /** Data profiling: per-column stats in one pass (corpus QA / data contracts). */
  private def qProfile(s: SparkSession, dir: String): DataFrame = {
    val li = ld(s, dir, "lineitem")
    def prof(c: String) =
      li.agg(
        lit(c).as("column_name"),
        count(lit(1)).as("cnt"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        min(col(c)).cast("double").as("min_d"),
        max(col(c)).cast("double").as("max_d"),
        countDistinct(col(c)).as("ndv")
      )
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey")
      .map(prof)
      .reduce(_ unionByName _)
      .orderBy(col("column_name"))
  }

  /** GROUP BY ROLLUP: subtotal + grand-total rows (OLAP drill-down). */
  private def qGroupingRollup(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** GROUP BY CUBE: all grouping-set combinations. */
  private def qGroupingCube(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "events")
      .cube(col("event_type"), (col("user_id") % 10).as("user_bucket"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("user_bucket").asc_nulls_first)

  // ==================================================================
  // §2.2 window
  // ==================================================================

  private def qWindowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ld(s, dir, "events")
      .select(
        col("event_id"),
        col("user_id"),
        col("value"),
        lag(col("value"), 1).over(w).as("prev_value")
      )
      .orderBy(col("event_id"))
  }

  /**
   * Ordered conversion funnel (view → click → purchase) per user
   * (graft.operators.Funnel — cascaded running conditional minima,
   * one user-key exchange for the windows AND the rollup; strict-time
   * chaining, mirrored in the oracle's identical window cascade).
   */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel
      .funnel(ld(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        Seq("view", "click", "purchase"))
      .orderBy(col("user_id"))

  /** Monotone name source for the streaming gates' memory sinks (a
    * memory-sink query name is session-global; bench reps and verify
    * share one session). */
  private val streamGateN = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`: the bounded-window streaming gates pay one task per shuffle
    * partition per microbatch (state commits and per-batch parquet
    * writes alike), so the session's 32 is pure fixed cost on ≤20k-row
    * windows. The conf is restored after the stream STOPS — streaming
    * reads it at first-trigger planning, so restoring right after
    * start() would race. Gates run sequentially in Verify/Bench. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** The one driver of the stream gates: `start` builds the query over a
    * fresh MemoryStream, each of `batches` is fed as one micro-batch
    * (`processAllAvailable` after every one) under 8 shuffle partitions
    * (q_stream_anomaly measured 4.5-8.6 s at the session's 32 and
    * 1.7-2.6 s at 8, sf0.1: its cost is per-partition state commits),
    * and the query stops on every exit. */
  private def driveStream[A: Encoder](s: SparkSession, batches: Seq[Seq[A]])(
      start: Dataset[A] => StreamingQuery): Unit = {
    val stream = MemoryStream[A](implicitly[Encoder[A]], s.sqlContext)
    withShufflePartitions(s, 8) {
      val q = start(stream.toDS())
      try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
  }

  /** [[driveStream]] into an append-mode memory sink: returns the sink's
    * rows shaped by `readBack` and materialized, then drops the sink view
    * (it keeps the emitted rows on the driver for the session's life). */
  private def streamToMemory[A: Encoder](s: SparkSession, gate: String, batches: Seq[Seq[A]])(
      query: Dataset[A] => DataFrame)(readBack: DataFrame => DataFrame): DataFrame = {
    val name = s"${gate}_${streamGateN.incrementAndGet()}"
    driveStream(s, batches)(ds =>
      query(ds).writeStream.format("memory").queryName(name).outputMode("append").start())
    val out = readBack(s.table(name)).localCheckpoint()
    s.catalog.dropTempView(name)
    out
  }

  /** The stream gates' two micro-batches: `rows` split by `id` mod 2, so
    * every gate sees cross-batch out-of-order arrival. */
  private def byParity[A](rows: Seq[A])(id: A => Long): Seq[Seq[A]] =
    Seq(0L, 1L).map(i => rows.filter(r => math.floorMod(id(r), 2L) == i))

  /** A far-future event time: as the last micro-batch it advances the
    * gates' 36500-day watermark two days past `maxTsMs`, so every
    * user's state flushes. */
  private def sentinelTs(maxTsMs: Long) = new java.sql.Timestamp(maxTsMs + (36502L * 86400 * 1000))

  /**
   * STREAMING funnel under the hash gate — the first streaming twin
   * promoted from spec-only to a daily CORRECTNESS row. A
   * deterministic bounded window of the events table (event_id <
   * 20000 — flat-cost at any sf, bounded driver memory) is replayed
   * through a MemoryStream in TWO deterministic batches split by
   * event_id mod 2 — cross-batch out-of-order arrival, the case the
   * buffered-replay state design exists for — with a watermark wide
   * enough to admit every batch; a far-future sentinel then advances
   * the watermark past every user's inactivity horizon so all state
   * flushes. The emitted rows must hash-match q_funnel's BATCH oracle
   * SQL over the same window: streaming-vs-batch parity, checked
   * against DuckDB daily instead of only at `sbt test` time.
   */
  private def qStreamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FEv
    val evs = ld(s, dir, "events")
      .filter(col("event_id") < 20000)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .as[FEv]
      .collect().toSeq // bounded: ≤ 20k fixed-window rows at any sf
    // an empty window (a dataset whose event_ids start past the bound)
    // must yield the oracle's empty result, not an empty-max crash
    if (evs.isEmpty) return s.emptyDataset[StreamingFunnel.FunnelRow].toDF()
    val sentinel = FEv(-1L, sentinelTs(evs.map(_.ts.getTime).max), "view", -1L)
    streamToMemory(s, "q_stream_funnel", byParity(evs)(_.event_id) :+ Seq(sentinel))(ds =>
      StreamingFunnel.streaming(s, ds, Seq("view", "click", "purchase"),
        inactivityMinutes = 30, watermark = "36500 days").toDF())(
      _.filter(col("user_id") =!= -1L).orderBy(col("user_id")))
  }

  /**
   * STREAMING retention under the hash gate — the q_stream_funnel
   * discipline applied to the trio's cross-user aggregate twin: the
   * same bounded events window replayed through StreamingRetention in
   * two out-of-order batches, flushed by the watermark sentinel,
   * rolled into the batch matrix shape by `matrix` (cohort truncation
   * as a Spark expression, countDistinct idempotence), and
   * hash-compared to q_retention's BATCH oracle over the same window.
   * The wide watermark means no user times out before the sentinel,
   * so every user's full window history replays in one buffer — the
   * exact-parity regime the spec proves.
   */
  private def qStreamRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.REv
    val evs = ld(s, dir, "events")
      .filter(col("event_id") < 20000)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .collect().toSeq // bounded: ≤ 20k fixed-window rows at any sf
    if (evs.isEmpty)
      return StreamingRetention.matrix(s.emptyDataset[StreamingRetention.UserPeriod].toDF())
    val sentinel = REv(-1L, sentinelTs(evs.map(_.getTimestamp(1).getTime).max), "view")
    val batches = byParity(evs)(_.getLong(3))
      .map(_.map(r => REv(r.getLong(0), r.getTimestamp(1), r.getString(2)))) :+ Seq(sentinel)
    val sunk = streamToMemory(s, "q_stream_retention", batches)(ds =>
      StreamingRetention.streaming(s, ds, anchorType = "signup",
        inactivityMinutes = 30, watermark = "36500 days").toDF())(
      _.filter(col("user_id") =!= -1L))
    StreamingRetention.matrix(sunk)
      .orderBy(col("cohort"), col("period_n"))
  }

  /**
   * STREAMING anomaly under the hash gate — the trio's third twin
   * (funnel, retention, anomaly: the whole event-analytics family's
   * streaming story is now daily-gated). The bounded events window
   * streams through [[graft.streaming.StreamingAnomaly.dailyCounts]]
   * (watermarked 1-day windows) into a memory sink — cells finalize
   * when the sentinel advances the watermark — and the finalized
   * cells are scored by the EXACT batch operator
   * (densifyDaily + anomalies), hash-compared to q_anomaly's batch
   * oracle over the same window. The sentinel's own far-future cell
   * never finalizes (nothing advances the watermark past it), so it
   * cannot contaminate the grid.
   */
  private def qStreamAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = ld(s, dir, "events")
      .filter(col("event_id") < 20000)
      .select(col("ts"), col("event_type"), col("event_id"))
      .as[(java.sql.Timestamp, String, Long)]
      .collect().toSeq // bounded: ≤ 20k fixed-window rows at any sf
    val cells: DataFrame =
      if (evs.isEmpty)
        Seq.empty[(java.sql.Timestamp, String, Long)].toDF("day", "event_type", "cnt")
      else {
        val sentinel = (sentinelTs(evs.map(_._1.getTime).max), "view", -1L)
        streamToMemory(s, "q_stream_anomaly", byParity(evs)(_._3) :+ Seq(sentinel))(ds =>
          graft.streaming.StreamingAnomaly.dailyCounts(ds.toDF("ts", "event_type", "event_id"),
            "ts", "event_type", watermark = "36500 days"))(
          _.select(col("day"), col("event_type"), col("cnt")))
      }
    graft.operators.Funnel.anomalies(
      graft.operators.Funnel.densifyDaily(cells, "event_type", "day", "cnt"),
      seriesCol = "event_type", periodCol = "day", cntCol = "cnt")
      .orderBy(col("event_type"), col("day"))
  }

  /** Top event-type trigram paths (Funnel.topPaths): most-walked
    * consecutive 3-step sequences with distinct-user counts — lead()
    * n-grams over one user-key exchange, rollup by path. */
  private def qEventPaths(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel
      .topPaths(ld(s, dir, "events"), "user_id", "ts", "event_type", "event_id", n = 3, topK = 10)

  /** Weekly cohort retention (graft.operators.Funnel.retention):
    * users cohorted by first-signup week, per (cohort, week-since-
    * signup) active fraction — floor-epoch period arithmetic mirrored
    * exactly by the oracle. */
  private def qRetention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel
      .retention(ld(s, dir, "events"), "user_id", "ts", "event_type")
      .orderBy(col("cohort"), col("period_n"))

  /** Window-function family beyond lag: lead/row_number/rank/moving sum. */
  private def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val moving = w.rowsBetween(-2, Window.currentRow)
    ld(s, dir, "events")
      .filter(col("event_id") < 2000)
      .select(
        col("event_id"),
        col("user_id"),
        lead(col("value"), 1).over(w).as("next_value"),
        row_number().over(w).cast("long").as("rn"),
        sum(col("value").cast("decimal(18,4)")).over(moving).cast("double").as("moving_sum3"),
        (count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))).as("running_cnt")
      )
      .orderBy(col("event_id"))
  }

  /**
   * Time-series anomaly detection — the monitoring analytic an OLAP
   * event store serves daily: per (event_type, day) counts DENSIFIED
   * onto the calendar grid (Funnel.densifyDaily — a zero-event outage
   * day is scored like any other, and a gap cannot stretch the
   * baseline window), then z-scored against the trailing 7 days (rows
   * -7..-1 over the dense grid ≡ true trailing days; the current day
   * never contaminates its own baseline). Cross-engine exact by the
   * q_agg_stats discipline: the window aggregates are exact integers
   * (count, sum, sum of squares), and mean/std/z derive from them
   * through an IDENTICAL scalar double formula on both engines — no
   * engine-ordered float accumulation anywhere. The event-sized work
   * is one map-side-combined aggregate; grid and window move only
   * series-days-bounded rows.
   */
  private def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = ld(s, dir, "events")
      .groupBy(F.truncDay(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.Funnel.anomalies(
      graft.operators.Funnel.densifyDaily(daily, "event_type", "day", "cnt"),
      seriesCol = "event_type", periodCol = "day", cntCol = "cnt")
      .orderBy(col("event_type"), col("day"))
  }

  /** Exact percentiles / median (OLAP distribution analysis). */
  private def qAggPercentile(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
        percentile(col("l_extendedprice"), lit(0.9)).as("p90_price")
      )
      .orderBy(col("l_returnflag"))

  // ==================================================================
  // §2.3 time functions
  // ==================================================================

  private def qTimeTrunc(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "events")
      .filter(col("event_id") < 500)
      .select(
        col("event_id"),
        F.truncYear(col("ts")).as("t_year"),
        F.truncQuarter(col("ts")).as("t_quarter"),
        F.truncMonth(col("ts")).as("t_month"),
        F.truncWeek(col("ts")).as("t_week"),
        F.truncDay(col("ts")).as("t_day"),
        F.truncHour(col("ts")).as("t_hour"),
        F.truncMinute(col("ts")).as("t_minute"),
        F.truncSecond(col("ts")).as("t_second")
      )
      .orderBy(col("event_id"))

  private def qTimeExtract(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "events")
      .filter(col("event_id") < 500)
      .select(
        col("event_id"),
        F.extractYear(col("ts")).cast("long").as("e_year"),
        F.extractQuarter(col("ts")).cast("long").as("e_quarter"),
        F.extractMonth(col("ts")).cast("long").as("e_month"),
        F.extractWeek(col("ts")).cast("long").as("e_week"),
        F.extractDay(col("ts")).cast("long").as("e_day"),
        F.extractHour(col("ts")).cast("long").as("e_hour"),
        F.extractMinute(col("ts")).cast("long").as("e_minute"),
        F.extractSecond(col("ts")).cast("long").as("e_second")
      )
      .orderBy(col("event_id"))

  /** Interval arithmetic on the time axis (reference PeriodDuration consts). */
  private def qTimeInterval(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "events")
      .filter(col("event_id") < 500)
      .select(
        col("event_id"),
        (col("ts") + expr("INTERVAL 1 DAY")).as("ts_plus_day"),
        (col("ts") - expr("INTERVAL 2 HOUR")).as("ts_minus_2h"),
        (col("ts") + expr("INTERVAL 90 MINUTE")).as("ts_plus_90m")
      )
      .orderBy(col("event_id"))

  // ==================================================================
  // §2.4 unary / string ops
  // ==================================================================

  private def qStrFuncs(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "customer")
      .select(
        col("c_custkey"),
        length(col("c_name")).cast("long").as("name_len"),
        lower(col("c_name")).as("name_lower"),
        upper(col("c_mktsegment")).as("seg_upper")
      )
      .orderBy(col("c_custkey"))

  private def qTokens(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        size(F.tokens(col("text"))).cast("long").as("n_tokens"),
        // String, not array<string>: the driver's pandas comparator cannot
        // sort/hash array cells (array semantics stay covered by q_array_ops).
        concat_ws("|", slice(F.tokens(col("text")), 1, 5)).as("head_tokens")
      )
      .orderBy(col("doc_id"))

  /** Stemmed tokens (reference TokenizerBase.stemmedTokens with the
    * locale's stemmer; here 'en' = Harman S-stemmer). The oracle SQL
    * mirrors the three S-stemmer rules token-for-token in DuckDB. */
  private def qStemmedTokens(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        size(F.stemmedTokens(col("text"))).cast("long").as("n_tokens"),
        concat_ws("|", slice(F.stemmedTokens(col("text")), 1, 8)).as("head_stems")
      )
      .orderBy(col("doc_id"))

  /** Transliteration (reference RussianTransliterator +
    * TokenizerBase.transliteratedTokens): the synthetic corpus is
    * latin, so a deterministic char map (`translate`) first seeds
    * Cyrillic — including multi-char expansions (щ → shch, ж → zh) and
    * a char that transliterates to NOTHING (ъ) — then both the scalar
    * transliterate and the full tokenize → stem → transliterate →
    * drop-empty chain run over it. DuckDB replays the SAME
    * [[graft.functions.expressions.Transliterate.table]] as a
    * replace-fold (latin outputs never re-match Cyrillic inputs, so
    * the fold order cannot matter). */
  private def qTranslit(s: SparkSession, dir: String): DataFrame = {
    val src = translate(lower(col("text")), "aeiouyshcq", "аеиоуыщжчъ")
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        F.translit(src).as("translit_text"),
        size(F.transliteratedTokens(src)).cast("long").as("n_tokens"),
        concat_ws("|", slice(F.transliteratedTokens(src), 1, 8)).as("head_translit")
      )
      .orderBy(col("doc_id"))
  }

  private def qSplit(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "part")
      .select(
        col("p_partkey"),
        concat_ws("|", F.splitWords(col("p_type"))).as("type_words"),
        size(F.splitWords(col("p_type"))).cast("long").as("n_words")
      )
      .orderBy(col("p_partkey"))

  private def qArith(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        (-col("l_quantity")).as("neg_qty"),
        abs(col("l_quantity") - lit(25.0)).as("abs_dev"),
        revenue.cast("double").as("revenue"),
        (col("l_partkey") % 7).as("pk_mod"),
        (col("l_quantity") / lit(2.0)).as("half_qty")
      )
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private def qIsNull(s: SparkSession, dir: String): DataFrame = {
    val seg = nullif(col("c_mktsegment"), lit("BUILDING"))
    ld(s, dir, "customer")
      .select(
        col("c_custkey"),
        isnull(seg).as("seg_is_null"),
        (!isnull(seg)).as("seg_is_not_null"),
        coalesce(seg, lit("NONE")).as("seg_or_none")
      )
      .orderBy(col("c_custkey"))
  }

  // ==================================================================
  // §2.5 conditions
  // ==================================================================

  private def qCmpLogic(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .filter((col("l_quantity") > 30 && col("l_discount") <= 0.05) || !(col("l_returnflag") === "N"))
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        (col("l_quantity") >= lit(45.0)).as("big_qty"),
        (col("l_returnflag") =!= "N").as("returned_or_na"),
        (col("l_extendedprice") < lit(10000.0)).as("cheap")
      )
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private def qInNotin(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "R") && !col("l_linenumber").isin(1, 2))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))

  private def qCase(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .select(
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high")
          .as("band"),
        revenue.as("rev")
      )
      .groupBy(col("band"))
      .agg(count(lit(1)).as("cnt"), sum(col("rev")).cast("double").as("sum_rev"))
      .orderBy(col("band"))

  private def qArrayOps(s: SparkSession, dir: String): DataFrame = {
    val toks = slice(F.tokens(col("text")), 1, 8)
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        array_contains(toks, "the").as("has_the"),
        F.containsAll(toks, array(lit("the"), lit("data"))).as("has_all"),
        F.containsAny(toks, array(lit("spark"), lit("table"))).as("has_any"),
        F.arrayToString(toks).as("joined"),
        size(toks).cast("long").as("arr_len")
      )
      .orderBy(col("doc_id"))
  }

  // ==================================================================
  // §2.6 query shapes (QueryBuilder — the reference Query model)
  // ==================================================================

  // Window sits inside the generator's shipdate span (1995-01-02..2001-11-04,
  // pinned non-empty by TestDataCanarySpec) so the daily gate verifies real
  // rows — the original 1994 window hash-matched on 0 rows for 12 rounds.
  private def qFilterRange(s: SparkSession, dir: String): DataFrame =
    QueryBuilder(s, TestSchema.schema, n => ld(s, dir, n), "lineitem")
      .timeRange("1995-06-01", "1996-06-01")
      .where(col("l_returnflag") === "R")
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"),
        col("l_extendedprice")
      )
      .build()
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private def qPostfilter(s: SparkSession, dir: String): DataFrame =
    QueryBuilder(s, TestSchema.schema, n => ld(s, dir, n), "lineitem")
      .groupBy(col("l_suppkey"))
      .select(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .having(col("sum_qty") > 300.0)
      .build()
      .orderBy(col("l_suppkey"))

  private def qLimit(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))

  /** External-link enrichment: fact → supplier → nation → region, all broadcast. */
  private def qJoinLink(s: SparkSession, dir: String): DataFrame = {
    val li = ld(s, dir, "lineitem")
    val sup = broadcast(ld(s, dir, "supplier"))
    val nat = broadcast(ld(s, dir, "nation"))
    val reg = broadcast(ld(s, dir, "region"))
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(nat, sup("s_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(revenue).cast("double").as("sum_rev"), count(lit(1)).as("cnt"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /**
   * Link-field condition pushdown (reference ExternalLinkService
   * `transformCondition`): the predicate on supplier attributes is
   * resolved to an `IN` set over `l_suppkey` BEFORE the fact scan, so
   * the scan itself prunes (PushedFilters shows the In) instead of
   * joining all facts and post-filtering. Asserted in PlanSpec.
   */
  /**
   * Declarative external link under the exact hash gate: the catalog
   * is DECLARED from a JSON config string (the reference's universal
   * JSON catalogs shape, yupana-external-links JsonCatalogs.scala:22),
   * sourced over real JDBC (embedded Derby), and the link predicate
   * collapses to an IN-set on the fact dimension pushed into the
   * parquet scan — the whole config→JDBC→pushdown path the
   * [[graft.sources.JsonCatalogs]] loader provides, exercised daily.
   * The Derby catalog is materialized deterministically from the
   * supplier table (name = "cat-"+key, tier from key mod 3), so DuckDB
   * reproduces the join from parquet alone.
   */
  private def qLinkDeclared(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.JsonCatalogs
    val url = ensureDeclaredCatalog(s, dir)
    val json =
      s"""{"externalLinks":[{"description":{
         |"linkName":"supplierCat","dimensionName":"l_suppkey",
         |"fieldsNames":["supplierName","tier"],"tables":["lineitem"],
         |"fieldsMapping":{"l_suppkey":"s_suppkey"},"relation":"supplier_cat"},
         |"connection":{"url":"$url","driver":"org.apache.derby.jdbc.EmbeddedDriver"}}]}""".stripMargin
    val cfgs = JsonCatalogs.parse(json)
    val schema = JsonCatalogs.attachLinksToSchema(TestSchema.schema, cfgs)
    val link = schema.links.find(_.linkName == "supplierCat").get
    val load = JsonCatalogs.loader(s, cfgs, n => ld(s, dir, n))
    QueryBuilder(s, schema, load, "lineitem")
      .whereLink(link, col("tier") === "gold")
      .withLink(link)
      .groupBy(col("supplierName"))
      .select(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
      .build()
      .orderBy(col("supplierName"))
  }

  /** Build-once embedded Derby catalog backing the declared external
    * link (q_link_declared). Bounded driver-side setup: the catalog is
    * dimension-sized metadata, derived deterministically from the
    * supplier table. Returns the JDBC url. Exposed through
    * [[setupFixtures]]. */
  private def ensureDeclaredCatalog(s: SparkSession, dir: String): String = {
    val root = fixture(s, "declared_db", dirKey(dir)) { d =>
      val keys = ld(s, dir, "supplier").select(col("s_suppkey")).collect().map(_.getLong(0)).sorted
      val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$d/db;create=true")
      try {
        conn.createStatement().execute(
          "CREATE TABLE supplier_cat (s_suppkey BIGINT, supplier_name VARCHAR(64), tier VARCHAR(8))")
        val ins = conn.prepareStatement("INSERT INTO supplier_cat VALUES (?, ?, ?)")
        keys.foreach { k =>
          ins.setLong(1, k)
          ins.setString(2, s"cat-$k")
          ins.setString(3, if (k % 3 == 0) "gold" else "std")
          ins.addBatch()
        }
        ins.executeBatch()
      } finally conn.close()
    }
    s"jdbc:derby:$root/db"
  }

  /**
   * Eagerly build every one-time fixture the gated queries otherwise
   * create lazily behind existence guards: the persisted text, IVF and
   * postings indexes, the bucketed text-index tables, the DSIR models
   * and the embedded Derby catalog, all under [[fixtureRoot]]. Bench
   * runs this BEFORE its timed loop so a query's warm pass times the
   * probe path a daily pipeline pays — not fixture DDL — and so the
   * warm/timed split can't demote a fixture-building query out of
   * median-of-3 eligibility. Idempotent: a second call finds every
   * done-marker and catalog table and runs no Spark job.
   */
  def setupFixtures(s: SparkSession, dir: String): Unit = {
    ensureTextIndex(s, dir)
    ensureBucketedTextIndex(s, dir)
    ensureDeltaTextIndex(s, dir)
    ensureCompactedTextIndex(s, dir)
    ensurePromotedTextIndex(s, dir)
    ensureIvfIndex(s, dir)
    ensureAdmittedIvfIndex(s, dir)
    ensurePqIndex(s, dir)
    ensureAdmittedPqIndex(s, dir)
    ensureDeclaredCatalog(s, dir)
    ensurePostingsIndex(s, dir)
    ensureDsirModel(s, dir)
    ensureDsirUpdatedModel(s, dir)
    ()
  }

  private def qJoinLinkFiltered(s: SparkSession, dir: String): DataFrame = {
    val link = TestSchema.schema.links.find(_.linkName == "supplier_link").get
    QueryBuilder(s, TestSchema.schema, n => ld(s, dir, n), "lineitem")
      .whereLink(link, col("s_acctbal") > 4000.0)
      .withLink(link)
      .groupBy(col("s_nationkey"))
      .select(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .build()
      .orderBy(col("s_nationkey"))
  }

  /**
   * Salted skew join under the hash gate ([[graft.core.Skew.saltedJoin]]
   * — previously spec-only): the fact side scatters each row to one of
   * 8 salts by content hash while the build side replicates across all
   * 8, so a hot orderkey's rows spread over 8 partitions; every probe
   * row still meets exactly one copy of its build row, so the result
   * EQUALS the plain equi-join — which is exactly what DuckDB
   * recomputes. A regression anywhere in the scatter/replicate
   * mechanics (double-match, dropped salt, nondeterministic re-salt)
   * breaks the aggregate hash daily.
   */
  private def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = ld(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val ord = ld(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.core.Skew.saltedJoin(li, ord, "l_orderkey", saltFactor = 8)
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy(col("o_orderpriority"))
  }

  /**
   * The composable dot-product fold THROUGH the fusion rule, under the
   * hash gate ([[graft.sql.SketchFusionRule]] — previously spec-only):
   * the query is written in the portable functions-API form
   * (aggregate ∘ zip_with), the injected optimizer rule rewrites it to
   * the native DotProduct kernel, and the result must equal DuckDB's
   * sequential left fold — the rule's contract is that fusion is
   * invisible (same sequential-sum IEEE semantics), and a WRONG fusion
   * (the worst optimizer failure mode: silently different results)
   * reds this row daily. FusionSpec separately asserts the rewrite
   * actually fires; this gate pins what it produces.
   */
  private def qDotFused(s: SparkSession, dir: String): DataFrame = {
    if (!s.experimental.extraOptimizations.contains(graft.sql.SketchFusionRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.sql.SketchFusionRule
    val emb = ld(s, dir, "embeddings")
    val a = emb.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val b = emb.select(col("vec_id").as("iid"), col("embedding").as("iv"))
    a.join(b, col("qid") < col("iid"))
      .select(col("qid"), col("iid"),
        aggregate(
          zip_with(col("qv"), col("iv"), (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("dot"))
      .orderBy(col("qid"), col("iid"))
  }

  /** Rollup to day grain, then month-grain query over the rollup. */
  private def qRollup(s: SparkSession, dir: String): DataFrame = {
    val roll = Rollup(
      name = "events_by_day",
      timeExpr = F.truncDay(col("ts")),
      groupBy = Seq(col("event_type")),
      aggregates = Seq(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,4)")).as("v"))
    )
    roll(ld(s, dir, "events"))
      .groupBy(F.truncMonth(col("rollup_time")).as("month"), col("event_type"))
      .agg(sum(col("c")).as("n_events"), sum(col("v")).cast("double").as("sum_value"))
      .orderBy(col("month"), col("event_type"))
  }

  /**
   * Query-over-rollup ROUTING (graft.sql.RollupRewriteRule): the month
   * aggregate below is written against the FACT layout, but the
   * registered route rewrites it onto the day-grain rollup — the oracle
   * recomputes from the raw fact in DuckDB, so the driver's hash gate
   * proves the rewrite is semantics-preserving. RollupRoutingSpec
   * additionally asserts the plan reads only the rollup files.
   */
  /** One-time layout + rollup materialization and route registration for
    * the routed queries (source data per dir is immutable, so repeat runs
    * time the ROUTED QUERY, not the one-time ETL). Returns the fact scan. */
  /** Collision-safe per-dir fixture key: sanitized name + full-path
    * hash. Sanitization alone is not injective (/data/sf0.001 and
    * /data/sf0_001 both collide onto data_sf0_001 and the second dataset
    * would silently serve the first's cached layout/rollup/index). */
  private def dirKey(dir: String): String =
    dir.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      java.lang.Long.toHexString(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          dir.getBytes("UTF-8"), org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          dir.getBytes("UTF-8").length, 42L))

  /** The one root of the gates' on-disk state, build-once fixtures and
    * per-run scratch dirs alike: `<spark.sql.warehouse.dir>/_graft_fixtures`,
    * beside the bucketed text-index tables the catalog keeps in the
    * warehouse. Deleting it cleans every fixture; the next gate that
    * needs one rebuilds it. */
  def fixtureRoot(s: SparkSession): String =
    new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")).toUri.getPath +
      "/_graft_fixtures"

  private def rmDir(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** A build-once fixture at `<fixtureRoot>/<name>/<key>`, returned.
    * `build` writes it under the dir it is given; a done-marker written
    * after `build` returns certifies the whole build, so a dir without
    * one (a crashed or interrupted build) is wiped and built again.
    * `key` is [[dirKey]], or [[dataKey]] for fixtures fitted on the
    * data, so a regenerated dataset gets a fresh fixture. */
  private def fixture(s: SparkSession, name: String, key: String)(build: String => Unit): String =
    SparkEntry.synchronized {
      val dir = s"${fixtureRoot(s)}/$name/$key"
      val done = new org.apache.hadoop.fs.Path(dir, "_fixture_done")
      val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        rmDir(s, dir)
        build(dir)
        fs.create(done, true).close()
      }
      dir
    }

  /** Run a gate body against a fresh per-run dir under [[fixtureRoot]]
    * and delete the dir on EVERY exit, so a gate that throws mid-stream
    * leaks nothing. The body materializes its result (localCheckpoint)
    * before returning, so the delete is always safe. */
  private def scratch[T](s: SparkSession, name: String)(body: String => T): T = {
    val dir = s"${fixtureRoot(s)}/scratch/$name-${java.util.UUID.randomUUID()}"
    try body(dir) finally rmDir(s, dir)
  }

  private def routedFacts(s: SparkSession, dir: String): DataFrame = {
    val roll = Rollup("events_by_day", F.truncDay(col("ts")), Seq(col("event_type")),
      Seq(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,4)")).as("v"),
        count(col("value")).as("cv")))
    val root = fixture(s, "routed", dirKey(dir)) { d =>
      TsLayout.write(ld(s, dir, "events"), TestSchema.events, s"$d/events")
      roll.materialize(TsLayout.read(s, s"$d/events"), s"$d/events_by_day_v2")
    }
    val layout = s"$root/events"
    val rollPath = s"$root/events_by_day_v2"
    val facts = TsLayout.read(s, layout)
    graft.sql.GraftFunctions.installRollupRouting(s)
    // the route is DERIVED from the rollup's own aggregate expressions,
    // so the declaration cannot drift from the materialized table.
    // Registration is skipped when the identical route is already live:
    // register() invalidates the cached rollup relation (file listing),
    // and the data here is immutable per dir — re-registering per query
    // invocation would re-list the rollup files on every planning pass.
    val route = roll.deriveRoute(facts, layout, rollPath).get
    if (!graft.sql.RollupRoutes.all.contains(route)) graft.sql.RollupRoutes.register(route)
    facts
  }

  private def qRollupRouted(s: SparkSession, dir: String): DataFrame =
    routedFacts(s, dir)
      .groupBy(F.truncMonth(col("ts")).as("month"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .orderBy(col("month"), col("event_type"))

  /** avg routed onto the rollup: the exact-average form (decimal sum /
    * non-null count, one IEEE division) decomposes into the routable
    * sum and count(m) pieces, so the whole quotient is answered from
    * the day rollup while the oracle recomputes from the raw fact. */
  private def qRollupRoutedAvg(s: SparkSession, dir: String): DataFrame =
    routedFacts(s, dir)
      .groupBy(F.truncMonth(col("ts")).as("month"), col("event_type"))
      .agg((dsum(col("value")) / count(col("value"))).as("avg_value"))
      .orderBy(col("month"), col("event_type"))

  private def qTopk(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(revenue).cast("double").as("part_rev"))
      .orderBy(col("part_rev").desc, col("l_partkey"))
      .limit(10)

  /**
   * The SQL surface: graft's query language IS Spark SQL over the
   * registered schema (the reference parses its own SQL dialect —
   * yupana-core sql/SqlQueryProcessor — into the same query shapes).
   */
  private def qSqlAgg(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftFunctions.registerTables(s, n => ld(s, dir, n), Seq("lineitem"))
    s.sql("""
      SELECT date_trunc('month', l_shipdate) AS month, l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1997-06-01'
      GROUP BY month, l_returnflag
      ORDER BY month, l_returnflag
    """)
  }

  private def qSqlTopn(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftFunctions.registerTables(s, n => ld(s, dir, n), Seq("orders"))
    s.sql("""
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY o_custkey
      HAVING COUNT(*) >= 2
      ORDER BY spend DESC, o_custkey
      LIMIT 20
    """)
  }

  // ==================================================================
  // §2.7 type conversions
  // ==================================================================

  private def qTypeConvs(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_linenumber").cast("string").as("ln_str"),
        // Money as integer cents: floor(x*100 + 0.5) is the same IEEE op
        // sequence in Spark and DuckDB (a direct double→DECIMAL cast is not:
        // Spark rounds HALF_UP, DuckDB HALF_EVEN → hash mismatch at
        // half-cent boundaries). DECIMAL cast coverage stays on an exact
        // integer source (ln_currency).
        floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long").as("price_cents"),
        // The DECIMAL(18,2) cast stays in the plan, but the emitted column is
        // DOUBLE: a raw decimal output reaches the driver as parquet decimal
        // (python Decimal, "1.00") vs DuckDB decimal (float64, "1.0") — equal
        // values, different hash representation.
        money(col("l_linenumber")).cast("double").as("ln_currency"),
        floor(col("l_quantity")).cast("long").as("qty_long"),
        col("l_partkey").cast("double").as("pk_double")
      )
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // ==================================================================
  // §2.8 streaming (batch-parity forms; streaming runs in the specs)
  // ==================================================================

  /** Ingest round-trip through the time-bucketed TsLayout. */
  private def qStreamIngest(s: SparkSession, dir: String): DataFrame = {
    val path = s"${fixtureRoot(s)}/layout/${dirKey(dir)}/events"
    TsLayout.write(ld(s, dir, "events"), TestSchema.events, path)
    TsLayout
      .read(s, path)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Tumbling-window event-time aggregation (batch parity of the stream). */
  private def qStreamWindow(s: SparkSession, dir: String): DataFrame =
    Ingest
      .windowedAgg(ld(s, dir, "events"))
      .orderBy(col("window_start"), col("event_type"))

  /** Gap-based sessionization (batch parity of the flatMapGroupsWithState stream). */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize
      .batch(ld(s, dir, "events"), gapMinutes = 30)
      .orderBy(col("user_id"), col("session_start"))

  /** UPSERT: re-put rows replace metric values at the same key. */
  private def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = ld(s, dir, "events")
    val updates = base.filter(col("event_id") < 100).withColumn("value", col("value") * 2.0)
    graft.sources.Upsert(base, updates, keys = Seq("event_id"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /**
   * As-of attribution: each purchase joined to the user's latest click
   * at-or-before it, within a 2-hour lookback (AsOf operator).
   */
  private def qAsofAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = ld(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = AsOf.dedupRight(
      ev.filter(col("event_type") === "click"), "user_id", "ts", "event_id")
    AsOf.join(purchases, clicks, "user_id", "ts", tolerance = Some(7200L))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("asof_event_id").as("click_id"))
      .orderBy(col("event_id"))
  }

  /** Range join: error events within 5 minutes after a purchase, same user. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = ld(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("purchase_id"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("eu"), col("ts").as("ets"), col("event_id").as("error_id"))
    p.join(e, col("pu") === col("eu") && col("ets") >= col("pts") &&
        col("ets") <= col("pts") + expr("INTERVAL 5 MINUTE"))
      .select(col("purchase_id"), col("error_id"), col("pu").as("user_id"))
      .orderBy(col("purchase_id"), col("error_id"))
  }

  /** Fact-fact join (orders ⋈ lineitem): the shuffle-join shape AQE re-plans. */
  private def qJoinFacts(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "orders")
      .join(ld(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(revenue).cast("double").as("sum_rev"),
        count(lit(1)).as("n_items"),
        countDistinct(col("o_orderkey")).as("n_orders")
      )
      .orderBy(col("o_orderpriority"))

  /** Inverted-index phrase search (reference ItemsInvertedIndex link). */
  private def qInvertedPhrase(s: SparkSession, dir: String): DataFrame = {
    val idx = InvertedIndex.build(ld(s, dir, "documents"), "doc_id", "text")
    InvertedIndex.phraseSearch(idx, "spark table merge").orderBy(col("doc_id"))
  }

  /** Co-occurrence catalog (reference RelatedItemsCatalog analogue). */
  private def qCooccurrence(s: SparkSession, dir: String): DataFrame = {
    val ut = ld(s, dir, "events").select(col("user_id"), col("event_type")).distinct()
    val a = ut.as("a")
    val b = ut.as("b")
    a.join(b, col("a.user_id") === col("b.user_id") && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /**
   * Leakage-safe GROUP-holdout split (Curation.groupSplit): every doc
   * of the same source lands on the same side — the eval-contamination
   * guard q_sample_split's doc-level split cannot give (near-identical
   * pages split across sides let eval measure memorization). The side
   * is a pure function of the group name (md5-prefix threshold), so
   * the oracle reproduces the assignment byte-for-byte and the gate
   * hashes per-split doc AND group counts; zero cross-split groups is
   * structural (same source ⇒ same md5 ⇒ same side) and spec-pinned,
   * incl. the dedup-cluster composition (no near-dup pair crosses).
   */
  private def qGroupSplit(s: SparkSession, dir: String): DataFrame =
    Curation.groupSplit(ld(s, dir, "documents"), col("source"), evalFrac = 0.1)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_groups"))
      .orderBy(col("split"))

  /** Content-hash train/val/test split (deterministic, content-defined). */
  private def qSampleSplit(s: SparkSession, dir: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col("text"))
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        when(fp % 10 < 8, "train").when(fp % 10 === 8, "val").otherwise("test").as("split")
      )
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"))
  }

  /**
   * Heavy hitters via the Misra-Gries typed Aggregator. With k above
   * the distinct-token count the sketch degenerates to exact counts,
   * so this shares q_vocab_stats' oracle — the aggregator path itself
   * is what's under test.
   */
  /** Native TypedImperativeAggregate Misra-Gries (no Dataset-encoder
    * boundary); k=100 > |vocab| here, so counts are exact and the
    * DuckDB frequency oracle applies. The typed-Aggregator variant
    * (Aggregators.HeavyHitters) stays spec-covered. */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(explode(F.tokens(col("text"))).as("token"))
      .agg(call_function("graft_heavy_hitters", col("token"), lit(100)).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("token"), col("e.count").as("occurrences"))
      .orderBy(col("occurrences").desc, col("token"))
      .limit(20)

  /**
   * Similarity BETWEEN sources via the mergeable MinHashUnion
   * aggregator: one signature per source, pairwise estimated Jaccard.
   *
   * Gate shape: `exact_jaccard` (distinct word-3-shingle sets per
   * source, |∩|/|∪|) is recomputed independently by the DuckDB oracle
   * — an exact cross-engine check of tokenize→shingle→set-Jaccard.
   * The minhash-union estimate itself is hash-seeded, so it is gated
   * as an accuracy bound: |est − exact| ≤ 0.2 (64 hashes; measured
   * max error 0.074 at sf0.01, 0.117 at sf0.1). The exact join is the
   * verification path only — the operator under test stays the
   * one-signature-per-source aggregate.
   */
  private def qSourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents")
    val bySource = Dedup
      .minhashSigs(docs, "doc_id", "text", 64, 3)
      .join(docs.select(col("doc_id").as("id"), col("source")), "id")
      .groupBy(col("source"))
      .agg(call_function("graft_minhash_union", col("sig"), lit(64)).as("sig"))
    val a = bySource.as("a")
    val b = bySource.as("b")
    val est = a.join(b, col("a.source") < col("b.source"))
      .select(
        col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        (aggregate(zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / lit(64.0)).as("est_jaccard")
      )
    val sh = docs
      .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("shingle"))
      .distinct()
    val counts = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x")
      .join(sh.as("y"), col("x.shingle") === col("y.shingle") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
      .agg(count(lit(1)).as("i"))
    val exact = counts.as("ca").join(counts.as("cb"), col("ca.source") < col("cb.source"))
      .join(inter, col("ca.source") === col("sa") && col("cb.source") === col("sb"), "left")
      .select(
        col("ca.source").as("source_a"),
        col("cb.source").as("source_b"),
        (coalesce(col("i"), lit(0L)).cast("double") /
          (col("ca.n") + col("cb.n") - coalesce(col("i"), lit(0L))).cast("double")).as("exact_jaccard"))
    est.join(exact, Seq("source_a", "source_b"))
      .select(
        col("source_a"), col("source_b"), col("exact_jaccard"),
        (abs(col("est_jaccard") - col("exact_jaccard")) <= lit(0.2)).as("est_err_ok"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Corpus vocabulary statistics: top tokens by frequency. */
  private def qVocabStats(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(explode(F.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("token"))
      .limit(30)

  /**
   * Per-document top TF-IDF terms: token explode → per-(doc, term)
   * counts (map-side combined) → document-frequency join → windowed
   * top-3. Cross-engine determinism: the score is tf·(N+1)/(df+1) —
   * exact integer products and ONE IEEE division, bit-identical in both
   * engines — with (score, term) as the total window order; outputs are
   * ints/strings only.
   */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents")
    // N as a lazy 1-row broadcast (the q_mix_weights shape), not a
    // blocking docs.count(): the count's scan prunes to zero columns
    // and rides in the same job instead of a separate driver action
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(F.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    terms
      .join(dfreq, "term")
      .crossJoin(broadcast(nd))
      .withColumn("score", (col("tf") * (col("n_docs") + lit(1L))).cast("double") / (col("df") + lit(1L)).cast("double"))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** The full curation pipeline in one pass: exact dedup → near-dup
    * canonicalization → language/quality gates → deterministic split,
    * one auditable row per input doc. Oracle composes the already-
    * verified fragments (hash groups, recursive-CTE closure, langid,
    * quality, fingerprint split) in the same gate order. */
  private def qCurate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation
      .curate(ld(s, dir, "documents"), languages = Seq("en"), minQuality = 0.3)
      .orderBy(col("doc_id"))

  // ==================================================================
  // §2.9 dedup
  // ==================================================================

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(ld(s, dir, "documents"), "doc_id", "text").orderBy(col("keep_id"))

  /** MinHash-LSH candidates + exact shingle-jaccard verify: the emitted
    * set equals the brute-force ≥-threshold pair set (oracle-checked);
    * the LSH part under test is the candidate generator. */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup
      .minhashJaccardPairs(ld(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash block candidates (scale-honest radius 3) + minhash-band
    * backstop + exact shingle-jaccard verify — output equals the
    * brute-force ≥-threshold set (see Dedup.simhashJaccardPairs). */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup
      .simhashJaccardPairs(ld(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  private def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup
      .ngramJaccardPairs(ld(s, dir, "documents"), "doc_id", "text", groupCols = Seq("lang", "source"), n = 4, threshold = 0.35)
      .orderBy(col("id_a"), col("id_b"))

  /**
   * The exact-dup COLLAPSE route under the hash gate (the
   * q_dedup_embed_ivf discipline: the scale machinery gets its own
   * daily-red-able row). The gate corpus is dup-free, so
   * q_dedup_ngram_jaccard's dup probe always routes raw and the
   * collapse-and-expand machinery would otherwise live only in specs.
   * Here a deterministic 400-doc window is DOUBLED with exact replicas
   * (doc_id + 10M — id-disjoint at any sf), pushing the dup fraction
   * to 50% ≫ the 5% bound, so this query executes collapse daily:
   * dup probe → hash prescreen → text-keyed grouping → rep pipeline →
   * member expansion, and DuckDB recomputes the doubled corpus's full
   * quadratic pair set (each original pair appears ×4 via replicas,
   * each doc pairs its own replica at jaccard 1.0). probeFraction = 1
   * keeps the route deterministic (a 10% sample of 800 docs would be
   * sampling-noise-routed); the fixed window keeps the gate flat-cost
   * at any sf.
   */
  private def qDedupNgramCollapsed(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents")
      .filter(col("doc_id") < 400)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + lit(10000000L)))
    Dedup
      .ngramJaccardPairs(doubled, "doc_id", "text", groupCols = Seq("lang", "source"),
        n = 4, threshold = 0.35, probeFraction = 1.0)
      .orderBy(col("id_a"), col("id_b"))
  }

  /**
   * Cross-corpus dedup through the PERSISTED text index: a "new shard"
   * (sources src0-2) probed against the reference corpus (the rest).
   * The index is built once per immutable source dir — routedFacts
   * discipline, so repeat runs time the probe path a daily shard would
   * pay, not the one-time corpus scan — and the probe's banding
   * geometry comes from the index meta, exercising the exact
   * build→persist→probe cycle a 100 TB pipeline runs. Threshold-sized
   * banding makes the emitted pair set equal brute-force A×B (miss
   * < 1e-6 at t = 0.5), which the DuckDB oracle recomputes
   * quadratically.
   */
  private def qDedupCross(s: SparkSession, dir: String): DataFrame =
    crossShardGate(s, dir) { (shard, ref) =>
      Dedup.crossJaccardPairsIndexed(shard, ensureTextIndex(s, dir), ref, "doc_id", "text")
    }

  /** The q_dedup_cross* gate shape: the "new shard" (sources src0-2)
    * probed against the reference corpus (the rest), pairs ordered.
    * `probe` owns the fixture and the probe call — the only parts the
    * index-layout gates differ in. */
  private def crossShardGate(s: SparkSession, dir: String)(
      probe: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = ld(s, dir, "documents")
    probe(docs.filter(col("source").isin("src0", "src1", "src2")),
      docs.filter(!col("source").isin("src0", "src1", "src2")))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The cross-shard gates' reference corpus: every source but src0-2. */
  private def refCorpus(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents").filter(!col("source").isin("src0", "src1", "src2"))

  /** Build-once text index over the reference corpus (q_dedup_cross).
    * Exposed through [[setupFixtures]]. */
  private def ensureTextIndex(s: SparkSession, dir: String): String =
    fixture(s, "textindex", dirKey(dir)) { d =>
      Dedup.buildTextIndex(refCorpus(s, dir), "doc_id", "text", d, threshold = 0.5)
    }

  /**
   * The BUCKETED admission layout under the same gate: the index is a
   * table bucketed+sorted on the band key, so the candidate join reads
   * index buckets in place — only the shard's banded rows shuffle
   * (per-probe movement O(shard × bands), not O(corpus × bands);
   * DedupSpec asserts the exchange-free index side; measured at the
   * 20× admission stress: 6.0s vs 14s per shard against a 200k-doc
   * reference). One table build per JVM (the catalog is
   * session-scoped); the oracle is the same quadratic A×B recompute,
   * so both index layouts must emit the identical exact pair set.
   */
  private def qDedupCrossBucketed(s: SparkSession, dir: String): DataFrame =
    crossShardGate(s, dir) { (shard, ref) =>
      Dedup.crossJaccardPairsBucketedIndexed(shard, ensureBucketedTextIndex(s, dir), ref, "doc_id", "text")
    }

  /** Build-once bucketed text index table (q_dedup_cross_bucketed); one
    * build per JVM — the table catalog is session-scoped. Exposed
    * through [[setupFixtures]]. */
  private def ensureBucketedTextIndex(s: SparkSession, dir: String): String = {
    val tbl = s"graft_xidx_${dirKey(dir)}"
    if (!tablesExist(s, tbl))
      Dedup.buildTextIndexBucketed(refCorpus(s, dir), "doc_id", "text", tbl, threshold = 0.5)
    tbl
  }

  /** Whether bucketed text-index table `tbl` and its `_meta` table are
    * in this session's catalog: a table fixture's completeness check,
    * since the catalog is per session. */
  private def tablesExist(s: SparkSession, tbl: String): Boolean =
    s.catalog.tableExists(tbl) && s.catalog.tableExists(s"${tbl}_meta")

  /**
   * The BASE+DELTA split serving layout under the same gate: the
   * reference corpus is split between a bucketed base table (even
   * doc_id — the periodically rebuilt bulk) and a parquet delta
   * side-index (odd doc_id — standing in for the shards admitted
   * since the last promotion). The combined probe must emit EXACTLY
   * the monolithic-index pair set — the invariant that lets a daily
   * pipeline serve probes while admissions accumulate. Oracle: the
   * same brute-force A×B scan as q_dedup_cross.
   */
  private def qDedupCrossDelta(s: SparkSession, dir: String): DataFrame =
    crossShardGate(s, dir) { (shard, ref) =>
      val (tbl, delta) = ensureDeltaTextIndex(s, dir)
      Dedup.crossJaccardPairsBucketedDelta(shard, tbl, delta, ref, "doc_id", "text")
    }

  /** Build-once base+delta fixture (q_dedup_cross_delta): bucketed base
    * over even-doc_id refs, parquet delta index over odd-doc_id refs —
    * both at threshold 0.5, so their banding geometries agree by
    * construction. Exposed through [[setupFixtures]]. */
  private def ensureDeltaTextIndex(s: SparkSession, dir: String): (String, String) = {
    val tbl = s"graft_xdelta_${dirKey(dir)}"
    if (!tablesExist(s, tbl))
      Dedup.buildTextIndexBucketed(
        refCorpus(s, dir).filter(col("doc_id") % 2 === 0), "doc_id", "text", tbl, threshold = 0.5)
    val delta = fixture(s, "xdelta", dirKey(dir)) { d =>
      Dedup.buildTextIndex(
        refCorpus(s, dir).filter(col("doc_id") % 2 === 1), "doc_id", "text", d, threshold = 0.5)
    }
    (tbl, delta)
  }

  /**
   * Text-index COMPACTION under the hash gate: the reference corpus is
   * assembled as a base (doc_id%3==0) plus TWO admitted shards (the
   * other thirds), `compactTextIndex` folds them into the reserved
   * __base shard, and the compacted index's probe must emit EXACTLY
   * q_dedup_cross's pair set (same quadratic A×B DuckDB oracle) — the
   * shard-folding machinery becomes a daily-red-able row instead of
   * living only in DedupSpec's crash-window tests. Build-once fixture
   * per source dir (the compacted index is immutable afterwards): its
   * done-marker ([[fixture]]) certifies the full
   * build→admit→admit→compact sequence — a missing marker wipes and
   * redoes it, because a half-admitted index would silently probe a
   * subset and red the gate undiagnosably.
   */
  private def qDedupCrossCompacted(s: SparkSession, dir: String): DataFrame =
    crossShardGate(s, dir) { (shard, ref) =>
      Dedup.crossJaccardPairsIndexed(shard, ensureCompactedTextIndex(s, dir), ref, "doc_id", "text")
    }

  /**
   * Text-shard ADMISSION under the hash gate — the novelty DECISION of
   * `Dedup.admitShard` (previously spec-only "Incremental shard
   * admission"): a bounded 200-doc reference window becomes a per-run
   * index, and a probe shard of 100 genuinely-new docs (doc_id
   * 200-299) PLUS exact replicas of the first 100 reference docs
   * (+10M ids — certain rejections at jaccard 1.0) admits through the
   * real probe→append pipeline. The emitted (doc_id, admitted) flags
   * must hash-equal DuckDB's quadratic recompute: admitted ⇔ no
   * reference doc reaches jaccard ≥ 0.5 (threshold-sized banding's
   * <1e-6 at-threshold miss is the same accepted exposure as every
   * cross-corpus gate). A drop-novel or keep-duplicate regression in
   * admission reds a named daily row. Bounded window ⇒ flat cost at
   * any sf; per-run index dir deleted after materialization.
   */
  private def qDedupAdmitted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = ld(s, dir, "documents")
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") < 200)
    if (ref.isEmpty)
      return Seq.empty[(Long, Boolean)].toDF("doc_id", "admitted")
    val probe = docs.filter(col("doc_id") >= 200)
      .unionByName(docs.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(10000000L)))
    scratch(s, "q_dedup_admitted") { base =>
      val idxPath = s"$base/index"
      withShufflePartitions(s, 8) {
        Dedup.buildTextIndex(ref, "doc_id", "text", idxPath, threshold = 0.5)
        Dedup.admitShard(probe, idxPath, ref, "doc_id", "text", "gate")
        // the admitted ids are read BACK from the just-written shard
        // (admitShard returns the survivors lazily AFTER materializing
        // them into the shard write — re-using the returned plan would
        // run the whole probe+verify pipeline a second time)
        val survivors = s.read.parquet(s"$idxPath/sigs/shard=gate")
          .select(col("id").as("doc_id")).withColumn("admitted", lit(true))
        probe.select(col("doc_id"))
          .join(survivors, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("admitted"), lit(false)).as("admitted"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      }
    }
  }

  /** Build-once compacted-index fixture (q_dedup_cross_compacted);
    * exposed through [[setupFixtures]]. */
  private def ensureCompactedTextIndex(s: SparkSession, dir: String): String =
    fixture(s, "textindex_compacted", dirKey(dir)) { d =>
      val ref = refCorpus(s, dir)
      Dedup.buildTextIndex(ref.filter(col("doc_id") % 3 === 0), "doc_id", "text", d, threshold = 0.5)
      Dedup.appendToTextIndex(ref.filter(col("doc_id") % 3 === 1), d, "doc_id", "text", "gate_s1")
      Dedup.appendToTextIndex(ref.filter(col("doc_id") % 3 === 2), d, "doc_id", "text", "gate_s2")
      Dedup.compactTextIndex(s, d)
    }

  /**
   * BUCKETED text-index PROMOTION under the hash gate — the last fold
   * surface (q_dedup_cross_compacted gates the flat index's compaction,
   * q_ann_promoted the vector fold): a bucketed base over the even-id
   * reference docs plus a parquet delta index over the odd-id half,
   * folded by `promoteTextIndexDelta` into the table from signatures
   * alone (staged merge, persisted folded-shard list, bucketed table
   * rebuild, delta reset), then probed — the promoted table must emit
   * EXACTLY the monolithic cross-corpus pair set (the same quadratic
   * A×B oracle), so a fold that loses, duplicates, or re-bands rows
   * reds a named daily row. Build-once fixture ([[fixture]]): a
   * missing done-marker wipes table + delta and redoes the
   * whole build→promote sequence (a half-promoted state would probe a
   * subset).
   */
  private def qDedupCrossPromoted(s: SparkSession, dir: String): DataFrame =
    crossShardGate(s, dir) { (shard, ref) =>
      Dedup.crossJaccardPairsBucketedIndexed(shard, ensurePromotedTextIndex(s, dir), ref, "doc_id", "text")
    }

  /** Build-once promoted-table fixture (q_dedup_cross_promoted);
    * exposed through [[setupFixtures]]. */
  private def ensurePromotedTextIndex(s: SparkSession, dir: String): String = {
    val tbl = s"graft_xprom_${dirKey(dir)}"
    // the marker certifies the build→promote sequence, and both catalog
    // tables must still exist: a new session's catalog has lost them, so
    // the fixture is wiped and the whole sequence rebuilt
    if (!tablesExist(s, tbl)) rmDir(s, s"${fixtureRoot(s)}/xprom/${dirKey(dir)}")
    fixture(s, "xprom", dirKey(dir)) { d =>
      val ref = refCorpus(s, dir)
      Dedup.buildTextIndexBucketed(
        ref.filter(col("doc_id") % 2 === 0), "doc_id", "text", tbl, threshold = 0.5)
      Dedup.buildTextIndex(ref.filter(col("doc_id") % 2 === 1), "doc_id", "text", d, threshold = 0.5)
      Dedup.promoteTextIndexDelta(s, tbl, d)
    }
    tbl
  }

  /** Hyperplane-LSH candidates + exact cosine verify at 0.5 — the level
    * where 16-plane/4-band recall is complete on this corpus, making the
    * output the exact ≥-threshold set (oracle-checked with the same
    * sequential-fold cosine as q_ann_bruteforce). */
  private def qDedupEmbed(s: SparkSession, dir: String): DataFrame =
    Dedup
      .embeddingPairs(ld(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /**
   * Semantic dedup end-to-end (Dedup.semanticDedup): verified cosine
   * pairs → connected components → min-id representative with a `keep`
   * flag; the oracle recomputes the closure from brute-force all-pairs
   * cosine with a recursive CTE.
   */
  private def qSemdedup(s: SparkSession, dir: String): DataFrame =
    Dedup
      .semanticDedup(ld(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.5)
      .orderBy(col("vec_id"))

  /**
   * Pair list → deduplicated corpus: connected components (alternating
   * large-star/small-star) over the exact-verified minhash pairs, every
   * doc mapped to its cluster's canonical (min) id. The oracle computes
   * the same closure with a recursive CTE over the brute-force pair set.
   */
  private def qDedupCluster(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents")
    val pairs = Dedup.minhashJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
    Dedup.dedupClusters(docs, "doc_id", pairs).orderBy(col("doc_id"))
  }

  /** Quality-aware dedup: each near-dup cluster keeps its highest-
    * quality member (TextAnalysis.qualityScore, min-id tie-break)
    * instead of the minimum id — the retention policy production
    * pipelines run. Same exact-verified pair list as q_dedup_cluster;
    * the oracle recomputes clusters with a recursive CTE and the
    * quality formula. */
  private def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents")
    val pairs = Dedup.minhashJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
    Dedup.dedupKeepBest(docs, "doc_id", TextAnalysis.qualityScore(col("text")), pairs)
      .select(col("doc_id"), col("cluster_id"), col("keep_id"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // ==================================================================
  // §2.10 similarity search
  // ==================================================================

  private def qAnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = ld(s, dir, "embeddings")
    Ann
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Self k-NN join: every vector's 3 nearest neighbors. At gate scale
    * the size dispatch lands on the exact all-pairs path (oracle =
    * brute-force ground truth); past 2^14 vectors the same call runs
    * the IVF-cell shuffle join (Ann.knnJoinIvf — recall spec'd in
    * OperatorSpec, never a corpus-sized broadcast). */
  private def qKnnJoin(s: SparkSession, dir: String): DataFrame =
    Ann.knnJoin(ld(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
      .orderBy(col("query_id"), col("rank"))

  /** Semantic clusters = connected components of the mutual-kNN graph
    * (each side in the other's top-3): min-id labels, singletons label
    * themselves. At gate scale the underlying kNN is the exact
    * all-pairs dispatch, so the DuckDB closure over mutual brute-kNN
    * pairs is the exact oracle. */
  private def qKnnClusters(s: SparkSession, dir: String): DataFrame =
    Ann.mutualKnnClusters(ld(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
      .orderBy(col("vec_id"))

  /**
   * Deterministic FIXED-SIZE gate corpus for the two forced-IVF gates:
   * the [[IvfGateCap]] embeddings ranked lowest by a multiplicative
   * id hash (Knuth 2654435761, tie-broken by id). Exhaustive probing
   * makes those gates quadratic BY DESIGN (that is what proves
   * IVF ≡ brute force), so their cost must not grow with sf: at sf0.01
   * the cap covers the whole table (500 rows — gate values unchanged),
   * at any larger sf the gate still measures exactly 500 vectors and
   * its wall-time stays flat while the probe-limited scale path is
   * benchmarked separately. The id is folded mod 2^20 BEFORE the
   * multiply so the product stays far inside Long on both engines
   * (DuckDB errors on BIGINT overflow rather than wrapping); ids
   * ≥ 2^20 still order deterministically via the id tie-break. Spark
   * plans this as TakeOrderedAndProject — per-partition top-N + a
   * driver merge of N rows, no full sort, no full shuffle.
   */
  private val IvfGateCap = 500
  private def gateEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = ld(s, dir, "embeddings")
    emb
      .orderBy(
        pmod(pmod(col("vec_id"), lit(1048576L)) * lit(2654435761L), lit(4294967296L)),
        col("vec_id"))
      .limit(IvfGateCap)
      .select(emb.columns.map(col).toSeq: _*)
  }

  /**
   * FORCED-IVF embedding dedup under the exact hash gate: the size
   * dispatch never routes here at gate scale, so this query calls
   * `Dedup.embeddingPairsIvf` DIRECTLY — the code path a 100 TB corpus
   * actually runs (quantizer training, multi-probe cell assignment,
   * within-cell id-only candidate join, exact-cosine verify).
   * Runs on the [[gateEmbeddings]] fixed-size subset so the
   * deliberately-exhaustive gate stays flat-cost at any sf.
   *
   * Gate discipline:
   *  - the hashed row set comes from an EXHAUSTIVE-probe run
   *    (probes = numCells ⇒ every vector probes every cell ⇒ candidate
   *    generation provably covers all pairs), so the IVF output EQUALS
   *    the brute ≥-threshold set and DuckDB re-verifies every emitted
   *    pair's exact cosine — a regression anywhere in the IVF machinery
   *    (assignment expression, join, distinct, verify) turns the row red;
   *  - a PROBE-LIMITED run (probes < numCells — the true scale shape,
   *    recall measured in DedupSpec and SURVEY.md §2.9) executes under the same
   *    gate and its structural guarantee is hashed: probe-limiting can
   *    only LOSE pairs, never invent them (`limited_subset_ok`).
   * Threshold 0.4 (vs q_dedup_embed's 0.5) so the gated pair set is
   * ~60 rows instead of 1 at sf0.01 — a hash over real volume.
   */
  private def qDedupEmbedIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = gateEmbeddings(s, dir)
    val t = 0.4
    // one quantizer for both runs: training is deterministic, so the
    // exhaustive and probe-limited pipelines would train identical
    // centroids anyway — share them and halve the gate's cost
    val cents = Ann.ivfTrain(
      s, emb.select(xxhash64(col("vec_id")).as("vec_id"), col("embedding")), numCells = 4)
    val exhaustive = Dedup.embeddingPairsIvf(emb, "vec_id", "embedding", threshold = t,
      numCells = 4, probes = 4, centroids = cents)
    val limited = Dedup.embeddingPairsIvf(emb, "vec_id", "embedding", threshold = t,
      numCells = 4, probes = 2, centroids = cents)
    val viol = limited
      .join(exhaustive.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_viol"))
    exhaustive
      .crossJoin(broadcast(viol))
      .select(col("id_a"), col("id_b"), col("cos"),
        (col("n_viol") === 0L).as("limited_subset_ok"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /**
   * FORCED-IVF self k-NN join under the exact hash gate — the
   * `Ann.knnJoinIvf` sibling of [[qDedupEmbedIvf]] (same rationale: the
   * gate-scale dispatch runs brute, so the scale path needs its own
   * daily-red-able row). Exhaustive probing (probes = numCells) makes
   * the cell shuffle join's candidate set provably complete, so the
   * heap-ranked output EQUALS brute-force kNN and DuckDB re-verifies
   * every emitted neighbor, cosine, and rank. The probe-limited run
   * (probes = 2 of 4) executes under the same gate with its structural
   * invariants hashed via [[withLimitedWellformed]] — probe-limiting
   * degrades WHICH neighbors rank, never the ranking mechanism.
   * Runs on the [[gateEmbeddings]] fixed-size subset so the
   * deliberately-exhaustive gate stays flat-cost at any sf.
   */
  private def qKnnJoinIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = gateEmbeddings(s, dir)
    val k = 3
    // shared quantizer, same rationale as qDedupEmbedIvf: deterministic
    // training would produce identical centroids twice — train once
    val cents = Ann.ivfTrain(
      s, emb.select(xxhash64(col("vec_id")).as("vec_id"), col("embedding")), numCells = 4)
    val exhaustive = Ann.knnJoinIvf(emb, "vec_id", "embedding", k = k, numCells = 4, probes = 4,
      centroids = cents)
    val limited = Ann.knnJoinIvf(emb, "vec_id", "embedding", k = k, numCells = 4, probes = 2,
      centroids = cents)
    withLimitedWellformed(exhaustive, limited, k)
  }

  /** Forced-SPLIT self k-NN — the occupancy-bounding gate (r15): ONE
    * cell gets the whole fixed-size gate corpus (500 ≫ 4×cellTarget=32
    * — far past the split threshold), so the local re-quantize MUST
    * engage; tier-2 salting engages wherever a sub-cell stays overfull.
    * Exhaustive sub-cell probing (splitProbes=64 ≥ the ⌈500/8⌉=63 split
    * width) keeps the candidate set complete, so split + salt +
    * [[Ann.cellTopK]] kernel ≡ brute kNN, and DuckDB re-verifies every
    * neighbor, cosine, and rank. Fixed-size corpus ⇒ flat gate cost at
    * any sf (the IvfGateCap discipline). */
  private def qKnnJoinSplit(s: SparkSession, dir: String): DataFrame =
    Ann.knnJoinIvf(gateEmbeddings(s, dir), "vec_id", "embedding", k = 3,
      numCells = 1, probes = 1, cellTarget = 8, splitProbes = 64)
      .orderBy(col("query_id"), col("rank"))

  /**
   * Shared tail of the forced-IVF gates: the exhaustive run's rows
   * (= brute force, DuckDB-re-verified) annotated with the
   * probe-limited run's structural invariant. Per limited-run query:
   * ranks form a contiguous 1..n prefix with n ≤ k and non-ascending
   * cosine — the MECHANISM properties. n = k is deliberately NOT
   * required: how many candidates the probed cells hold is
   * data-dependent (a skewed quantizer can leave a query's probed
   * cells with fewer than k non-self vectors), and pinning it would
   * turn a data shape into a false-red gate failure. A query missing
   * from the limited run entirely is fine for the same reason — but a
   * present query with a gap, a rank not starting at 1, overflow past
   * k, or an ascending cosine flags every output row.
   */
  private def withLimitedWellformed(
      exhaustive: DataFrame, limited: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val perQuery = limited
      .withColumn("prev_cos", lag(col("cos"), 1).over(w))
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n"),
        min(col("rank")).as("rmin"),
        max(col("rank")).as("rmax"),
        sum(when(col("prev_cos").isNotNull && col("prev_cos") < col("cos"), 1L)
          .otherwise(0L)).as("inversions"))
    val bad = perQuery
      .agg(sum(when(
        col("n") <= k.toLong && col("rmin") === 1 && col("rmax") === col("n") &&
          col("inversions") === 0L, 0L).otherwise(1L)).as("n_bad"))
    exhaustive
      .crossJoin(broadcast(bad))
      .select(col("query_id"), col("item_id"), col("cos"), col("rank"),
        (coalesce(col("n_bad"), lit(0L)) === 0L).as("limited_wellformed_ok"))
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * IVF gate shape: recall quality is data-dependent (probe-limited
   * search on near-uniform synthetic vectors), so the driver-hashed
   * properties are the deterministic ones —
   *  - `mechanism_ok`: the IVF search (ranked-window / TopKPerKeyExec
   *    plan) returns EXACTLY the top-k of its probed-cell candidate
   *    set, cross-checked against an independent agg-sort plan;
   *  - `n_results`: every query fills its k slots;
   *  - `found_true_neighbor`: at least one true (brute-force) top-k
   *    neighbor survives probing.
   * Recall@k magnitude is asserted and reported in OperatorSpec.
   */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = ld(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val k = 5
    val cents = Ann.ivfTrain(s, emb, numCells = 16, lloydIters = 5)
    val ivf = Ann.ivfSearch(emb, queries, cents, k, probes = 4)
    val truth = Ann.ivfProbedTruth(emb, queries, cents, k, probes = 4)
      .select(col("query_id"), col("item_id"), col("rank"), col("cos").as("cos_t"))
    val bf = Ann.bruteForceTopK(emb, queries, k)
      .select(col("query_id"), col("item_id"))
    val perQuery = ivf
      .join(truth, Seq("query_id", "item_id", "rank"), "full_outer")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("cos").isNotNull && col("cos") === col("cos_t"), 1L).otherwise(0L)).as("matched"))
    val hits = ivf.select(col("query_id"), col("item_id"))
      .join(bf, Seq("query_id", "item_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    perQuery
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        col("matched").as("n_results"),
        (col("total") === col("matched") && col("total") === lit(k.toLong)).as("mechanism_ok"),
        (coalesce(col("hits"), lit(0L)) >= lit(1L)).as("found_true_neighbor"))
      .orderBy(col("query_id"))
  }

  /**
   * PERSISTED-IVF-index search under the exact hash gate — the last
   * spec-only scale path gains a daily-red-able row. The index (trained
   * centroids + cell-PARTITIONED corpus assignments + drift stats) is
   * built once per immutable source dir (routedFacts discipline), so
   * repeat runs execute what a query batch at 100 TB pays: load bounded
   * centroid metadata, resolve the probed cell set driver-side, read
   * ONLY those cells' files (static partition filter — OperatorSpec
   * asserts the pruned file list), heap top-k per query.
   *
   * Exhaustive probing (probes = numCells) makes the probed-cell
   * candidate set the whole corpus minus self, so the output EQUALS
   * brute-force top-k and DuckDB re-verifies every neighbor, cosine,
   * and rank. The probe-limited run (probes = 4 of 16 — the true scale
   * shape) executes under the same gate with its structural invariants
   * hashed via [[withLimitedWellformed]] — probe-limiting degrades
   * WHICH neighbors rank, never the ranking mechanism.
   */
  private def qAnnIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = ld(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val k = 5
    val idxPath = ensureIvfIndex(s, dir)
    val exhaustive = Ann.searchIvfIndex(s, idxPath, queries, k, probes = 16)
    val limited = Ann.searchIvfIndex(s, idxPath, queries, k, probes = 4)
    withLimitedWellformed(exhaustive, limited, k)
  }

  /**
   * Product-quantization search (Ann.pqTopK): codes-only ADC scoring +
   * exact re-rank — the memory shape that makes billion-vector search
   * affordable (m bytes/vector instead of dim floats; per-pair cost m
   * table lookups). Gate follows the q_ann_indexed pattern: the
   * EXHAUSTIVE re-rank pool run provably equals brute force (hashed
   * against the same DuckDB cosine oracle, neighbor by neighbor), and
   * the production-shaped run (rerank = 4×k) contributes its
   * structural invariant via [[withLimitedWellformed]]. Codebooks
   * train deterministically (hash-sampled, driver Lloyd per subspace)
   * and are shared by both runs.
   */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = ld(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val k = 5
    // m=16/K=16 from the PQ recall matrix (SURVEY.md §5): 16 bytes/vector
    // (16x compression at dim 64) at ~0.7 recall@5 with the 4-per-slot
    // re-rank pool, on the no-cluster-structure synthetic hard case
    val codebooks = Ann.pqTrain(s, emb, m = 16, codebookSize = 16)
    val exhaustive = Ann.pqTopK(emb, queries, codebooks, k, rerank = Int.MaxValue)
    val limited = Ann.pqTopK(emb, queries, codebooks, k, rerank = 4 * k)
    withLimitedWellformed(exhaustive, limited, k)
  }

  /**
   * Persisted IVF-PQ index search (Ann.buildIvfPqIndex /
   * searchIvfPqIndex): the index holds PQ codes in the cell-partitioned
   * layout — the scan reads only probed cells' files AND only m-int
   * code rows, never raw vectors; exact re-rank reads the source table
   * for the candidate set. Same gate contract as q_ann_indexed /
   * q_ann_pq: exhaustive probing + unlimited re-rank provably equals
   * brute force (hashed), the production-shaped run pins its
   * structural invariant.
   */
  private def qAnnPqIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = ld(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val k = 5
    val idxPath = ensurePqIndex(s, dir)
    val exhaustive = Ann.searchIvfPqIndex(s, idxPath, emb, queries, k,
      probes = 16, rerank = Int.MaxValue)
    val limited = Ann.searchIvfPqIndex(s, idxPath, emb, queries, k,
      probes = 4, rerank = 4 * k)
    withLimitedWellformed(exhaustive, limited, k)
  }

  /**
   * PQ-index admission under the exact hash gate (q_ann_pq_admitted) —
   * the q_ann_admitted contract on the CODES layout: the IVF-PQ index
   * is built (coarse cells + codebooks trained) over HALF the corpus,
   * the other half admitted as a codes delta shard (encoded with the
   * EXISTING codebooks — one narrow pass), and the ADC scan serves
   * base ∪ delta under the probed-cell filter. Exhaustive probing +
   * unlimited re-rank provably equals brute force over the FULL corpus
   * regardless of code quality (the exact re-rank stage re-scores
   * every candidate), so the gate hashes the whole admission-serving
   * path neighbor by neighbor; the production-shaped run pins its
   * structural invariant.
   */
  private def qAnnPqAdmitted(s: SparkSession, dir: String): DataFrame = {
    val emb = ld(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val k = 5
    val idxPath = ensureAdmittedPqIndex(s, dir)
    val exhaustive = Ann.searchIvfPqIndex(s, idxPath, emb, queries, k,
      probes = 16, rerank = Int.MaxValue)
    val limited = Ann.searchIvfPqIndex(s, idxPath, emb, queries, k,
      probes = 4, rerank = 4 * k)
    withLimitedWellformed(exhaustive, limited, k)
  }

  /** Build-once split IVF-PQ index: base + quantizers over even
    * vec_ids, odd vec_ids admitted as a codes delta shard
    * (q_ann_pq_admitted). Exposed through [[setupFixtures]]. */
  private def ensureAdmittedPqIndex(s: SparkSession, dir: String): String =
    fixture(s, "pqadmit", dirKey(dir)) { d =>
      val emb = ld(s, dir, "embeddings")
      Ann.buildIvfPqIndex(s, emb.filter(col("vec_id") % 2 === 0), d,
        numCells = 16, m = 16, codebookSize = 16)
      Ann.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), d, "day1")
    }

  /** Build-once persisted IVF-PQ index (q_ann_pq_indexed). Exposed
    * through [[setupFixtures]]. */
  private def ensurePqIndex(s: SparkSession, dir: String): String =
    fixture(s, "pqindex", dirKey(dir)) { d =>
      Ann.buildIvfPqIndex(s, ld(s, dir, "embeddings"), d, numCells = 16, m = 16, codebookSize = 16)
    }

  /** Build-once persisted IVF index (q_ann_indexed). Exposed through
    * [[setupFixtures]]. */
  private def ensureIvfIndex(s: SparkSession, dir: String): String =
    fixture(s, "ivfindex", dirKey(dir)) { d =>
      Ann.buildIvfIndex(s, ld(s, dir, "embeddings"), d, numCells = 16)
    }

  /**
   * Vector admission under the exact hash gate (q_ann_admitted) —
   * the IVF index's between-rebuilds lifecycle, mirroring the text
   * index's shard admission: the index is built over HALF the corpus
   * (even vec_ids), the other half arrives as an admitted delta shard
   * (Ann.appendToIvfIndex — one narrow assignment pass over the NEW
   * vectors, base assignments never rewritten), and search serves
   * base ∪ delta under the same probed-cell partition filter.
   *
   * Exhaustive probing over the split index provably equals brute
   * force over the FULL corpus (same oracle as q_ann_indexed), so the
   * gate re-verifies every neighbor/cosine/rank THROUGH the admission
   * path — a banding mismatch, a lost shard, or a double-carried item
   * would hash-mismatch. The probe-limited run (the daily shape) pins
   * its structural invariant via [[withLimitedWellformed]].
   */
  private def qAnnAdmitted(s: SparkSession, dir: String): DataFrame = {
    val emb = ld(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val k = 5
    val idxPath = ensureAdmittedIvfIndex(s, dir)
    val exhaustive = Ann.searchIvfIndex(s, idxPath, queries, k, probes = 16)
    val limited = Ann.searchIvfIndex(s, idxPath, queries, k, probes = 4)
    withLimitedWellformed(exhaustive, limited, k)
  }

  /** Build-once split IVF index: base over even vec_ids, odd vec_ids
    * admitted as a delta shard (q_ann_admitted). Exposed through
    * [[setupFixtures]]. */
  private def ensureAdmittedIvfIndex(s: SparkSession, dir: String): String =
    fixture(s, "ivfadmit", dirKey(dir)) { d =>
      val emb = ld(s, dir, "embeddings")
      Ann.buildIvfIndex(s, emb.filter(col("vec_id") % 2 === 0), d, numCells = 16)
      Ann.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), d, "day1")
    }

  // ==================================================================
  // §2.11 text analysis
  // ==================================================================

  private def qTextLangid(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_words"),
        TextAnalysis.qualityScore(col("text")).as("quality")
      )
      .orderBy(col("doc_id"))

  private def qTextTokencount(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens")
      )
      .orderBy(col("doc_id"))

  /** Sliding-window token chunking (TextAnalysis.chunkDocs): the
    * context-window splitter a training pipeline runs before packing —
    * 64-token chunks stepping by 48 (25% overlap), exact DuckDB oracle
    * on idx/count/text. Zero-shuffle narrow pass. */
  private def qChunkTokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .chunkDocs(ld(s, dir, "documents"), "doc_id", "text", chunk = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Learned-BPE subword encode under the exact gate: graft_bpe_encode
    * (the codegen'd expression) applying [[graft.operators.Bpe.frozenMerges]]
    * — the table tools/LearnBpe trained once from this corpus — per doc
    * the subword count and the first 8 subwords. The oracle replays the
    * merge table as rank-ordered non-overlapping replaces over a
    * boundary-joined symbol string (provably the greedy-loop result;
    * frozenMerges scaladoc), so a rank-table mismatch like the r8
    * separator bug can never again pass the gate silently. Zero-shuffle
    * narrow pass; the merge table rides as a reference object inside
    * one whole-stage span. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        graft.operators.Bpe.encode(F.tokens(col("text")), graft.operators.Bpe.frozenMerges).as("sub"))
      .select(
        col("doc_id"),
        size(col("sub")).cast("long").as("n_subwords"),
        concat_ws("|", slice(col("sub"), 1, 8)).as("head_subwords"))
      .orderBy(col("doc_id"))

  /** PII scrub over the corpus (TextAnalysis.piiScrub): span counts per
    * class + the masked text; patterns restricted to syntax with
    * identical Java-regex/RE2 semantics so the oracle agrees exactly. */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .piiScrub(ld(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /**
   * Corpus snapshot diff (Curation.corpusDiff): v2 is derived
   * deterministically from the corpus — docs with id % 17 = 0 removed,
   * id % 13 = 0 edited, id % 19 = 0 duplicated under a shifted id
   * (additions) — and the diff classifies every id across both
   * versions from narrow per-side fingerprints (the join ships two
   * long columns, never text). Oracle rebuilds the same v2 and the
   * same rolling-hash fingerprints in SQL.
   */
  private def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents")
    val v2 = docs
      .filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2 edit"))).otherwise(col("text")))
      .unionByName(
        docs.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    graft.operators.Curation
      .corpusDiff(docs, v2, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  // ==================================================================
  // §2.11b retrieval / curation extensions (round 3)
  // ==================================================================

  /** BM25 ranked retrieval over the corpus (graft.operators.Retrieval):
    * exact-rational term factor + micro-nat-quantized IDF, so both
    * engines rank bit-identically (see Retrieval scaladoc). */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    Retrieval
      .bm25TopK(s, ld(s, dir, "documents"), "doc_id", "text", k = 10)
      .orderBy(col("query_id"), col("rank"))

  /**
   * BM25 served from the PERSISTED postings index with an admitted
   * delta shard (Retrieval.buildPostingsIndex / admitDocs /
   * bm25TopKFromIndex): base indexed from even doc_id, odd doc_id
   * admitted as shard "daily" — the retrieval family's between-rebuilds
   * lifecycle under the exact gate. The serve path reads the stored
   * per-shard (n_docs, total_len) aggregates instead of re-aggregating
   * the corpus, and must score EXACTLY like the monolithic recompute —
   * the oracle is q_bm25's own SQL over all documents.
   */
  private def qBm25Admitted(s: SparkSession, dir: String): DataFrame = {
    val idxPath = ensurePostingsIndex(s, dir)
    Retrieval
      .bm25TopKFromIndex(s, idxPath, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Build-once postings index fixture (q_bm25_admitted): base from
    * even-doc_id docs, odd-doc_id docs admitted as shard "daily".
    * Exposed through [[setupFixtures]]. */
  private def ensurePostingsIndex(s: SparkSession, dir: String): String =
    fixture(s, "postings", dirKey(dir)) { d =>
      val docs = ld(s, dir, "documents")
      Retrieval.buildPostingsIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", d)
      // admitDocs writes eagerly (appendPostings is two write actions);
      // the returned survivor frame is not needed here
      Retrieval.admitDocs(docs.filter(col("doc_id") % 2 === 1), d, "doc_id", "text", "daily")
    }

  /**
   * Exact-substring duplication signal (Lee et al. 2022 construction
   * at fixed span length k=10): fraction of each doc's k-token span
   * positions whose span occurs anywhere else in the corpus —
   * memorization-prone text that document-level dedup misses. The
   * posting shuffle ships 128-bit span fingerprints, never span text
   * (TextAnalysis.substringDuplication; oracle groups the span strings
   * themselves, so a fingerprint collision would be caught).
   */
  private def qSubstringDup(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis
      .substringDuplication(ld(s, dir, "documents"), "doc_id", "text", k = 10)
      .orderBy(col("doc_id"))

  /**
   * Gopher-style repetition signals per document: distinct-token and
   * top-token/top-bigram concentration — the standard quality gates a
   * training corpus applies before sampling. Counts are exact ints;
   * each frac is ONE IEEE division (identical both engines).
   */
  /** Top collocations (adjacent-pair lift = the log-free monotone
    * transform of PMI) over the corpus — see CorpusStats.collocations
    * for the determinism and scale story. */
  private def qCollocations(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.collocations(ld(s, dir, "documents"), "text", minCount = 5L, topK = 20)

  /** Corpus-trained unigram-LM quality gate (CCNet/Gopher perplexity
    * filter shape): per-doc mean smoothed surprisal in quantized-log
    * nats, keep = nll under the threshold. */
  private def qLmPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.lmPerplexity(ld(s, dir, "documents"), "doc_id", "text", maxNll = 4.0)
      .orderBy(col("doc_id"))

  /** DSIR importance resampling (graft.operators.Dsir): the raw pool
    * (source ≠ src0) scored against the src0 target distribution over
    * 4096 md5 feature buckets, top 100 by exact quantized log-weight.
    * Integer micro-nat scores (one ln per bucket, quantized at the
    * leaf) make the selection engine-exact; the oracle recomputes the
    * same hashed-unigram ratio model in SQL. */
  private def qDsirSelect(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.select(
      ld(s, dir, "documents"), "doc_id", "text",
      isTarget = col("source") === "src0", buckets = 4096, k = 100)
      .orderBy(col("rank"))

  /** Interpolated Kneser–Ney bigram LM quality filter
    * (CorpusStats.knBigramPerplexity): per-doc mean bigram surprisal
    * at D = 3/4, where each event probability is ONE exact-integer
    * ratio — quantized-ln leaves, exact sums, one division. Threshold
    * 3.39 ≈ the corpus median, so keep is a discriminative split. */
  private def qLmBigram(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats
      .knBigramPerplexity(ld(s, dir, "documents"), "doc_id", "text", maxNll = 3.39)
      .orderBy(col("doc_id"))

  /** Cache key for fitted-model fixtures derived from `dir`'s
    * documents table: [[dirKey]] plus the parquet file's
    * (length, mtime) fingerprint, so REGENERATING the dataset at the
    * same path invalidates the cached model instead of silently
    * serving a model fitted on the old data (the gates would then
    * diverge from the oracle, which always recomputes from current
    * data). Zero-cost: one file-status (plus, for directory layouts,
    * one listing) call, no Spark job. */
  private def dataKey(s: SparkSession, dir: String, table: String): String =
    // ONE fingerprint implementation for fixtures and the result cache
    // (graft.core.ResultCache.dataVersion — per-file name/length/mtime
    // signatures, recursive, order-independent): two copies of a
    // versioning algorithm that callers assume agree would drift apart
    s"${dirKey(dir)}_${graft.core.ResultCache.dataVersion(s, s"$dir/$table.parquet")}"

  /** One-time DSIR model fit so the served-path gate times the
    * broadcast-join probe, not the fit. */
  private def ensureDsirModel(s: SparkSession, dir: String): String =
    fixture(s, "dsir", dataKey(s, dir, "documents")) { d =>
      graft.operators.Dsir.fit(ld(s, dir, "documents"), "doc_id", "text",
        col("source") === "src0", buckets = 4096, d)
    }

  /** One-time INCREMENTALLY-BUILT DSIR model: fit generation 0 on the
    * even-id half of the corpus, then [[graft.operators.Dsir.update]]
    * folds the odd-id half in as a batch — the daily-refresh shape.
    * Because bucket counts are additive the result is EXACTLY the
    * full-corpus fit, so q_dsir_updated shares q_dsir_select's oracle
    * (the oracle models the WHOLE corpus — any divergence in the
    * update path breaks the hash). */
  private def ensureDsirUpdatedModel(s: SparkSession, dir: String): String =
    fixture(s, "dsir_upd", dataKey(s, dir, "documents")) { d =>
      val docs = ld(s, dir, "documents")
      graft.operators.Dsir.fit(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        col("source") === "src0", buckets = 4096, d)
      graft.operators.Dsir.update(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        col("source") === "src0", d, "odd-ids")
    }

  /** DSIR serving from the PERSISTED model (Dsir.scoreWithModel — the
    * daily-batch shape: one narrow pass over the pool + a broadcast
    * join against the stored ≤4096-row ratio table): must reproduce
    * the inline fit+select exactly, so it shares q_dsir_select's
    * oracle. Every raw-pool token's bucket is in the stored table, so
    * the unseen-bucket default never fires here; docs carrying zero
    * token evidence are excluded to match the inline domain. */
  private def qDsirServed(s: SparkSession, dir: String): DataFrame =
    dsirServe(s, dir, ensureDsirModel(s, dir))

  /** DSIR serving from the INCREMENTALLY-refreshed model (fit on half
    * the corpus + one [[graft.operators.Dsir.update]] batch): the
    * gate proves update ≡ refit end-to-end against the full-corpus
    * oracle — counts, quantized ratios, and serve scores all land
    * bit-identical to the monolithic fit's. */
  private def qDsirUpdated(s: SparkSession, dir: String): DataFrame =
    dsirServe(s, dir, ensureDsirUpdatedModel(s, dir))

  private def dsirServe(s: SparkSession, dir: String, path: String): DataFrame = {
    val top = graft.operators.Dsir.scoreWithModel(
        // null-source docs are raw pool (the featureCounts coalesce
        // rule) — a bare =!= would silently drop them here
        ld(s, dir, "documents").filter(!coalesce(col("source") === "src0", lit(false))),
        "doc_id", "text", path)
      .filter(col("doc_tokens") > 0)
      .orderBy(col("logw_q").desc, col("doc_id").asc).limit(100)
      .select(col("doc_id"), col("doc_tokens"), col("logw_q"), col("logw"))
    F.rankBy(top, "rank", -col("logw_q"), col("doc_id")).orderBy(col("rank"))
  }

  /**
   * STREAMING DSIR screening under the hash gate — the LLM-pipeline
   * lifecycle's streaming twin promoted to a daily CORRECTNESS row: a
   * bounded raw-pool window (doc_id < 2000, non-target — flat-cost at
   * any sf) streams through [[graft.streaming.StreamingDsir.run]] in
   * two batches against the PERSISTED full-corpus model (the
   * q_dsir_served fixture), each micro-batch scored by
   * `Dsir.scoreWithModel` with the minLogw=0 keep decision and landed
   * in a replay-safe per-batch report; the report must hash-match the
   * oracle's from-scratch recomputation of the same model + scores +
   * keep over the same window (keep is engine-exact as logw_q >= 0).
   * Fresh report/checkpoint dirs per run — a reused checkpoint would
   * resume offsets and silently skip batches.
   */
  private def qStreamDsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val modelPath = ensureDsirModel(s, dir)
    val docs = ld(s, dir, "documents")
      .filter(col("doc_id") < 2000)
      .filter(!coalesce(col("source") === "src0", lit(false)))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .collect().toSeq // bounded: < 2000 fixed-window rows at any sf
    if (docs.isEmpty)
      return Seq.empty[(Long, Long, Long, Double, Boolean)]
        .toDF("doc_id", "doc_tokens", "logw_q", "logw", "keep")
    scratch(s, "q_stream_dsir") { base =>
      driveStream(s, byParity(docs)(_._1))(ds =>
        graft.streaming.StreamingDsir.run(s, ds.toDF("doc_id", "text"),
          modelPath, s"$base/report", minLogw = 0.0, checkpoint = s"$base/ck"))
      s.read.option("basePath", s"$base/report").parquet(s"$base/report")
        .filter(col("doc_tokens") > 0)
        .select(col("doc_id"), col("doc_tokens"), col("logw_q"), col("logw"), col("keep"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }
  }

  /** Hashed-unigram multinomial Naive Bayes source classifier
    * (graft.operators.NaiveBayes): train on an md5-hash half of the
    * corpus's source labels (the q_group_split assignment discipline —
    * this testdata's source IS doc_id % 20, so a parity split would
    * train on only half the classes), tag the held-out half with the
    * domain that best explains it — the closed-form fastText-
    * classifier role of a CCNet-style pipeline, feeding mixture
    * weighting / per-domain caps. Exact integer quantized-log scores
    * make the argmax engine-exact; the oracle rebuilds the identical
    * model in SQL. (This corpus's synthetic texts carry no per-source
    * vocabulary signal, so accuracy sits at chance here — the
    * discriminative behavior is spec-pinned on constructed separable
    * classes, the q_multimodal_phash discipline.) */
  private def qNbClassify(s: SparkSession, dir: String): DataFrame =
    graft.operators.NaiveBayes.classify(
      ld(s, dir, "documents"), "doc_id", "text", "source",
      isTrain = graft.operators.Dsir.bucket(col("doc_id").cast("string"), 2) === 0,
      buckets = 4096)
      .orderBy(col("doc_id"))

  /** Z-order clustering key (graft.operators.ZOrder): per-Morton-cell
    * occupancy boxes of events in (user_id × epoch-day) space — each
    * output row's [u_min,u_max]×[d_min,d_max] is what a parquet
    * min/max-pruning reader would see for a file covering that z-range,
    * demonstrating the both-dimension locality the layout buys. The
    * interleave is pure 64-bit mask/shift/or arithmetic, so the DuckDB
    * oracle re-derives the key bit-identically from the same five
    * spread constants; the skip-vs-single-column-sort advantage is
    * spec-proven on a written layout (ZOrderSpec). */
  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    val keyed = ld(s, dir, "events")
      .select(col("user_id"),
        floor(col("ts").cast("long").cast("double") / lit(86400.0)).cast("long").as("day"))
      .withColumn("zkey", graft.operators.ZOrder.zkey(col("user_id"), col("day")))
    keyed
      .groupBy(shiftright(col("zkey"), 10).as("zcell"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
        min(col("day")).as("d_min"), max(col("day")).as("d_max"),
        min(col("zkey")).as("z_min"), max(col("zkey")).as("z_max"))
      .orderBy(col("zcell"))
  }

  private def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents").select(col("doc_id"), F.tokens(col("text")).as("tk"))
    val tokStats = docs
      .select(col("doc_id"), explode(col("tk")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"), max(col("c")).as("top_token_n"))
    val biStats = docs
      .select(
        col("doc_id"),
        explode(expr(
          "transform(slice(tk, 1, greatest(size(tk) - 1, 0)), (x, i) -> concat(x, ' ', element_at(tk, i + 2)))"))
          .as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
    tokStats
      .join(biStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_distinct"),
        col("top_token_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double")).as("distinct_frac"),
        (col("top_token_n").cast("double") / col("n_tokens").cast("double")).as("top_token_frac"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget shard packing (graft.operators.Packing): exact global
    * running sum via range-repartition + per-partition offsets — never a
    * single-partition window. Pack order is md5(doc_id): shuffled but
    * reproducible. */
  private def qPackShards(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents")
      .select(col("doc_id"), size(F.tokens(col("text"))).cast("long").as("n_tokens"))
    Packing
      .packShards(docs, "doc_id", "n_tokens", budget = 512L,
        orderCol = md5(col("doc_id").cast("string").cast("binary")))
      .select(col("doc_id"), col("w"), col("cum"), col("shard_id"), col("shard_offset"))
      .orderBy(col("doc_id"))
  }

  /**
   * The context-window export pipeline end to end: chunk every doc
   * into sliding 64-token windows (TextAnalysis.chunkDocs — narrow,
   * no shuffle), then pack the chunks into 256-token training shards
   * in a deterministic md5-shuffled order (Packing.packShards — the
   * bucketed distributed cumsum, never a global window). The chunk
   * stage feeds the pack stage (chunk_id, n_tokens) directly; docs
   * with zero tokens have nothing to pack and are filtered (their
   * chunk row carries a null idx). Oracle recomputes both stages —
   * chunk starts via range(), the cumsum via one SQL window.
   */
  private def qPackChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = TextAnalysis
      .chunkDocs(ld(s, dir, "documents"), "doc_id", "text", chunk = 64, stride = 48)
      .filter(col("chunk_idx").isNotNull)
      .select(concat_ws(":", col("doc_id"), col("chunk_idx")).as("chunk_id"), col("n_tokens"))
    Packing
      .packShards(chunks, "chunk_id", "n_tokens", budget = 256L,
        orderCol = md5(col("chunk_id").cast("binary")))
      .select(col("doc_id").as("chunk_id"), col("w"), col("cum"), col("shard_id"), col("shard_offset"))
      .orderBy(col("chunk_id"))
  }

  /**
   * Stratified (per-language quota) sampling: deterministic md5 order
   * within each stratum, quota 40 — balancing a training mix. The
   * rank-window form is rewritten to the bounded-heap TopKPerKeyExec
   * (installed by ld), so no per-stratum sort materializes at scale.
   */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    ld(s, dir, "documents")
      .select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 40)
      .select(col("lang"), col("doc_id"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /**
   * Symmetric int8 embedding quantization: per-vector scale = max|x|/127,
   * components → floor(x/scale + ½) (explicit half-up — identical IEEE
   * ops both engines, unlike round()'s per-engine tie mode). Emitted as
   * an exact integer CSV string; saturation count closes the loop.
   */
  private def qEmbedQuant(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("scale", expr("CAST(array_max(transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0"))
      .withColumn("q8",
        expr("transform(embedding, x -> CAST(coalesce(floor(CAST(x AS DOUBLE) / nullif(scale, 0.0) + 0.5), 0.0) AS INT))"))
      .select(
        col("vec_id"),
        col("scale"),
        concat_ws(",", col("q8").cast("array<string>")).as("q8_csv"),
        expr("CAST(size(filter(q8, q -> abs(q) = 127)) AS BIGINT)").as("n_saturated"))
      .orderBy(col("vec_id"))

  /**
   * Benchmark-contamination check: fraction of each corpus doc's
   * distinct word 5-grams that appear in the eval set (docs with
   * doc_id % 97 == 0 stand in for a benchmark). The eval n-gram set is
   * tiny relative to the corpus — it is broadcast, so the corpus side
   * never shuffles except the per-doc aggregation (map-side combined).
   *
   * Pass audit (the `grams` subtree feeds both join sides, which LOOKS
   * like a double tokenize): Catalyst pushes each side's doc_id filter
   * below the Generate, so the eval scan tokenizes ONLY eval docs and
   * the corpus scan ONLY the rest — verified in the physical plan, each
   * document is tokenized+exploded exactly once per run. What IS read
   * twice is the text column (a modulo predicate cannot prune parquet
   * row groups). The one-scan alternative — tag grams with is_eval and
   * window-max over gram partitions — would shuffle the full posting
   * table (~5× the text bytes for 5-grams) instead: strictly worse. In
   * production the eval gram set is static across corpus versions and
   * built once ([[graft.streaming.StreamingContamination.evalGramSet]]),
   * which removes the second scan entirely.
   */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val grams = ld(s, dir, "documents")
      .select(col("doc_id"), F.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(TextAnalysis.wordNgrams(col("tk"), 5)).as("gram"))
    val evalGrams = grams
      .filter(col("doc_id") % 97 === 0)
      .select(col("gram"))
      .distinct()
      .withColumn("hit", lit(1))
    grams
      .filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("contamination_frac", col("n_hit").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /**
   * STREAMING contamination screening under the hash gate — the fifth
   * daily-gated streaming twin: a bounded non-benchmark window
   * (doc_id < 2000, doc_id % 97 != 0 — flat-cost at any sf) streams
   * through [[graft.streaming.StreamingContamination.run]] in two
   * batches against the table-derived benchmark gram set, each
   * micro-batch's per-doc report landed replay-safe; the reports must
   * hash-match the brute-force oracle over the same window (shared
   * gram/benchmark SQL with q_contamination). Zero-gram docs are
   * emitted unscreened-flagged by the operator (spec-covered) and
   * excluded here to match the batch gate's explode semantics.
   */
  private def qStreamContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsTbl = ld(s, dir, "documents")
    val evalGrams = graft.streaming.StreamingContamination
      .evalGramSet(docsTbl.filter(col("doc_id") % 97 === 0), "doc_id", "text", 5)
    val window = docsTbl
      .filter(col("doc_id") < 2000 && col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .collect().toSeq // bounded: < 2000 fixed-window rows at any sf
    if (window.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("doc_id", "n_grams", "n_hit", "contamination_frac")
    scratch(s, "q_stream_contamination") { base =>
      driveStream(s, byParity(window)(_._1))(ds =>
        graft.streaming.StreamingContamination.run(s, ds.toDF("doc_id", "text"),
          evalGrams, s"$base/report", n = 5, checkpoint = s"$base/ck"))
      s.read.option("basePath", s"$base/report").parquet(s"$base/report")
        .filter(col("n_grams") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_hit"), col("contamination_frac"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }
  }

  /**
   * STREAMING near-dup dedup under the hash gate — the
   * screen-new-data-against-corpus production shape
   * ([[graft.streaming.StreamingDedup.run]]): per micro-batch minhash
   * signatures LSH-probed against the PERSISTED signature index, index
   * extended idempotently per batch. Window: a deterministic 400-doc
   * slice DOUBLED with exact replicas at doc_id + 10000001 — the odd
   * offset flips parity, so every replica lands in the OTHER batch
   * than its original and each of the 400 guaranteed pairs is found
   * through the cross-batch index probe (not trivially in-batch).
   * The stream runs at est-threshold 0 with threshold-sized banding
   * (miss < 1e-6 at jac 0.5), i.e. it emits the full candidate set;
   * the candidates then go through the SAME exact distinct-shingle
   * verify as the batch path ([[Dedup.exactJaccardVerify]]) and the
   * ≥ 0.5 filter, so the output equals q_dedup_minhash's brute-force
   * pair set over the doubled window — which the DuckDB oracle
   * recomputes quadratically. Per-run index/matches/checkpoint dirs
   * are deleted after materialization.
   */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val window = ld(s, dir, "documents")
      .filter(col("doc_id") < 400)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .collect().toSeq // bounded: ≤ 400 fixed-window rows at any sf
      .flatMap(d => Seq(d, (d._1 + 10000001L, d._2)))
    if (window.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "jac")
    val (nh, b) = Dedup.minhashBanding(0.5)
    scratch(s, "q_stream_dedup") { base =>
      driveStream(s, byParity(window)(_._1))(ds =>
        graft.streaming.StreamingDedup.run(s, ds.toDF("doc_id", "text"),
          indexPath = s"$base/index", matchesPath = s"$base/matches",
          numHashes = nh, bands = b, threshold = 0.0, shingleSize = 3,
          checkpoint = s"$base/ck"))
      // the verify tail (distinct + exactJaccardVerify's groupBy/join
      // over the 800-doc window) is the gate's shuffle-heaviest stage —
      // it belongs at the same 8 partitions as the stream
      withShufflePartitions(s, 8) {
        val cands = s.read.option("basePath", s"$base/matches").parquet(s"$base/matches")
          .select(
            least(col("new_id"), col("existing_id")).as("id_a"),
            greatest(col("new_id"), col("existing_id")).as("id_b"))
          .distinct()
        Dedup.exactJaccardVerify(cands, window.toDF("doc_id", "text"), "doc_id", "text", shingleSize = 3)
          .filter(col("jac") >= 0.5)
          .orderBy(col("id_a"), col("id_b"))
          .localCheckpoint()
      }
    }
  }

  /**
   * STREAMING SEMANTIC dedup under the hash gate — the embedding
   * counterpart of [[qStreamDedup]], promoting
   * [[graft.streaming.StreamingDedup.runEmbeddings]] (spec-only since
   * r8) to a daily CORRECTNESS row: a deterministic 200-vector window
   * of the embeddings table DOUBLED with exact replicas at
   * vec_id + 10000001 (the odd offset flips parity, so every replica
   * arrives in the OTHER batch than its original and each guaranteed
   * cos=1 pair is found through the persisted-index cross-batch probe,
   * not trivially in-batch) streams through runEmbeddings in two
   * batches at threshold 0.9 — the sign-LSH banding regime
   * (Dedup.signBanding: at-threshold band miss < 1e-6; replicas share
   * their original's signature bit-for-bit, so the 200 guaranteed
   * pairs can never band-miss) — and every band candidate is
   * exact-cosine verified IN the stream (graft_cosine, the same
   * expression q_dedup_embed hash-matches against DuckDB doubles), so
   * the emitted pair set must hash-equal the brute-force quadratic
   * recompute over the doubled window. Per-run index/matches/
   * checkpoint dirs deleted after materialization.
   */
  private def qStreamSemdedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val window = ld(s, dir, "embeddings")
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .collect().toSeq // bounded: ≤ 200 fixed-window rows at any sf
      .flatMap(v => Seq(v, (v._1 + 10000001L, v._2)))
    if (window.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cos")
    // CANARY (data, not code): the gate's hash-exactness rests on zero
    // sign-LSH band misses for every ≥0.9 window pair. signBanding's
    // miss bound is <1e-6 AT the threshold and shrinks rapidly above
    // it, so the only standing exposure is a pair in the razor margin
    // just above 0.9 — none exists in the current testdata, and a
    // REGENERATION that introduced one would keep worst-case
    // probabilistic odds on every future run. Fail here,
    // deterministically, so that future red diagnoses as regenerated
    // data rather than a streaming-dedup regression. Driver-side
    // all-pairs over the 200 originals (replicas are bit-copies — their
    // cosines mirror the originals'): ~20k small dot products, no job.
    locally {
      val orig = window.filter(_._1 < 10000001L)
      var i = 0
      while (i < orig.length) {
        var j = i + 1
        while (j < orig.length) {
          val a = orig(i)._2; val b = orig(j)._2
          val n = math.min(a.length, b.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var t = 0
          while (t < n) {
            dot += a(t).toDouble * b(t).toDouble
            na += a(t).toDouble * a(t).toDouble
            nb += b(t).toDouble * b(t).toDouble
            t += 1
          }
          val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
          require(cos < 0.9 || cos >= 0.903,
            s"q_stream_semdedup canary: window pair (${orig(i)._1}, ${orig(j)._1}) has " +
              s"cosine $cos in the thin band-miss margin [0.9, 0.903) — the testdata was " +
              "regenerated with a near-threshold pair; widen the margin or regenerate, " +
              "this is a data condition, not a streaming-dedup regression")
          j += 1
        }
        i += 1
      }
    }
    scratch(s, "q_stream_semdedup") { base =>
      driveStream(s, byParity(window)(_._1))(ds =>
        graft.streaming.StreamingDedup.runEmbeddings(s, ds.toDF("vec_id", "embedding"),
          indexPath = s"$base/index", matchesPath = s"$base/matches",
          threshold = 0.9, checkpoint = s"$base/ck"))
      // a pair is emitted once per discovering batch direction; the
      // exact cosine is deterministic, so distinct over the normalized
      // (id_a, id_b, cos) triple collapses re-discoveries losslessly
      withShufflePartitions(s, 8) {
        s.read.option("basePath", s"$base/matches").parquet(s"$base/matches")
          .select(
            least(col("new_id"), col("existing_id")).as("id_a"),
            greatest(col("new_id"), col("existing_id")).as("id_b"),
            col("cos"))
          .distinct()
          .orderBy(col("id_a"), col("id_b"))
          .localCheckpoint()
      }
    }
  }

  /**
   * STREAMING quality-aware dedup (keep-best) under the hash gate —
   * promoting [[graft.streaming.StreamingDedup.runKeepBest]]
   * (spec-only) to a daily CORRECTNESS row. The window is built so the
   * streaming rep-chained approximation is provably EXACT: each of the
   * window's 150 doc_ids becomes a 3-replica cluster (base,
   * base+10000001, base+20000002) whose synthetic text has
   * cluster-disjoint 3-shingles (every token embeds the base id), so
   * non-cluster band collisions are impossible and replica matches are
   * certain (identical text ⇒ identical signatures). Score = doc_id:
   * parity batching then exercises BOTH streaming paths — even bases
   * resolve a within-batch pair first and the later replica LOSES to
   * the indexed rep; odd bases index a lone rep first and the later
   * winner BEATS it (tombstone + demotion + re-attribution). The
   * reconstructed retention (latest decision per doc) must hash-equal
   * the oracle's closed-form answer: the max-id replica keeps, every
   * member attributes to it, score rides as the doc's own id. Per-run
   * index/decisions/checkpoint dirs deleted after materialization.
   */
  private def qStreamKeepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bases = ld(s, dir, "documents")
      .filter(col("doc_id") < 150)
      .select(col("doc_id")).as[Long]
      .collect() // bounded: ≤ 150 fixed-window rows at any sf
    if (bases.isEmpty)
      return Seq.empty[(Long, Boolean, Long, Double)]
        .toDF("doc_id", "kept", "rep_id", "score")
    def txt(b: Long): String = (1 to 8).map(i => s"t${b}_$i").mkString(" ")
    val window: Seq[(Long, String)] = bases.toIndexedSeq.flatMap(b =>
      Seq((b, txt(b)), (b + 10000001L, txt(b)), (b + 20000002L, txt(b))))
    scratch(s, "q_stream_keepbest") { base =>
      driveStream(s, byParity(window)(_._1))(ds =>
        graft.streaming.StreamingDedup.runKeepBest(s, ds.toDF("doc_id", "text"),
          score = col("doc_id").cast("double"),
          indexPath = s"$base/index", decisionsPath = s"$base/decisions",
          checkpoint = s"$base/ck"))
      // current retention = each doc's LATEST decision (the documented
      // consumer contract: demotions re-attribute a replaced rep)
      withShufflePartitions(s, 8) {
        val dec = s.read.option("basePath", s"$base/decisions").parquet(s"$base/decisions")
        val w = Window.partitionBy(col("doc_id")).orderBy(col("batch_id").desc)
        dec.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("doc_id"), col("kept"), col("rep_id"), col("score"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      }
    }
  }

  /**
   * STREAMING exact dedup under the hash gate — promoting
   * [[graft.streaming.Ingest.dedupStream]] (spec-only) to a daily
   * CORRECTNESS row: the bounded events window is delivered
   * at-least-once — batch 0 carries every row PLUS an in-batch
   * duplicate of the even-id half, batch 1 re-delivers the whole
   * window — and dropDuplicatesWithinWatermark must emit each
   * event_id exactly once (duplicates are byte-identical rows, so the
   * surviving row is deterministic regardless of arrival order). The
   * oracle is the distinct window itself. Bounded window ⇒ flat cost
   * at any sf; per-run checkpoint dir deleted after materialization.
   */
  private def qStreamDedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = ld(s, dir, "events")
      .filter(col("event_id") < 20000)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect().toSeq // bounded: ≤ 20k fixed-window rows at any sf
    if (evs.isEmpty)
      return Seq.empty[(Long, Long, String, Double)]
        .toDF("event_id", "user_id", "event_type", "value")
    streamToMemory(s, "q_stream_dedup_exact", Seq(evs ++ evs.filter(_._1 % 2 == 0), evs))(ds =>
      graft.streaming.Ingest.dedupStream(ds.toDF("event_id", "ts", "user_id", "event_type", "value"),
        keyCols = Seq("event_id"), watermark = "36500 days"))(
      _.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id")))
  }

  /**
   * STREAMING vector-index admission under the hash gate — promoting
   * [[graft.streaming.StreamingVectorAdmit]] (spec-only since r8) to a
   * daily CORRECTNESS row by the q_ann_admitted contract: a base IVF
   * index is built over the window's first 100 vectors, the remaining
   * 300 stream in as two parity micro-batches (each becomes a
   * searchable `stream_<batchId>` shard of the batch layout), and
   * EXHAUSTIVE probing through the grown index must return exactly the
   * brute-force top-5 over the FULL 400-vector window — every neighbor
   * re-verified through the streaming admission machinery. (The
   * probe-LIMITED path's structural invariant stays q_ann_admitted's
   * daily job on the fixture index; this gate deliberately pays one
   * search pipeline.) Bounded window ⇒ flat cost at any sf; per-run
   * index/checkpoint dirs deleted after materialization.
   */
  private def qStreamVectorAdmit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = ld(s, dir, "embeddings").filter(col("vec_id") < 400)
    // a dataset whose vec_ids start past the base bound must yield the
    // oracle's empty result, not an empty-kmeans crash
    if (emb.filter(col("vec_id") < 100).isEmpty)
      return Seq.empty[(Long, Long, Double, Int)].toDF("query_id", "item_id", "cos", "rank")
    // the whole lifecycle — build, stream, search — is bounded-window
    // work; 8 shuffle partitions keeps its ~dozen small jobs cheap
    scratch(s, "q_stream_vecadmit") { base => withShufflePartitions(s, 8) {
      val idxPath = s"$base/index"
      Ann.buildIvfIndex(s, emb.filter(col("vec_id") < 100), idxPath, numCells = 16)
      val rest = emb.filter(col("vec_id") >= 100)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .collect().toSeq // bounded: ≤ 300 fixed-window rows at any sf
      // drift heal disabled: the 100-vector base quantizer's p95 is a
      // noisy drift yardstick, and a triggered rebuild would only make
      // the gate re-verify what VecAdmitSpec pins (exhaustive == brute
      // holds with or without a heal) at the price of a full index
      // rebuild per batch
      driveStream(s, byParity(rest)(_._1))(ds =>
        graft.streaming.StreamingVectorAdmit.run(ds.toDF("vec_id", "embedding"), idxPath,
          s"$base/ck", driftRetrainFraction = 2.0))
      // exhaustive-equals-brute only: the probe-LIMITED path's structural
      // invariant is q_ann_admitted's daily job on the fixture index —
      // paying a second search pipeline here would re-gate it for ~2s of
      // flat cost per run
      Ann.searchIvfIndex(s, idxPath, emb.filter(col("vec_id") < 8), 5, probes = 16)
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint()
    } }
  }

  /**
   * Vector-index PROMOTION under the hash gate (the
   * q_stream_vector_admit bounded-window discipline): a base IVF index
   * over the window's first 100 vectors, the remaining 300 admitted as
   * a delta shard, then `promoteIvfDelta` folds the shard into the
   * base through the staged-merge protocol (stage write, persisted
   * folded-shard list, base rewrite, snapshot cleanup) — and EXHAUSTIVE
   * probing through the PROMOTED index must return exactly the
   * brute-force top-5 over the full 400-vector window, with a require()
   * pinning that promotion actually consumed every delta shard. The
   * fold machinery gets a daily-red-able row; its crash windows stay
   * OperatorSpec's seam-injected tests. Bounded window ⇒ flat cost at
   * any sf; per-run index dir deleted after materialization.
   */
  private def qAnnPromoted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = ld(s, dir, "embeddings").filter(col("vec_id") < 400)
    scratch(s, "q_ann_promoted") { base =>
      val idxPath = s"$base/index"
      if (emb.filter(col("vec_id") < 100).isEmpty)
        Seq.empty[(Long, Long, Double, Int)].toDF("query_id", "item_id", "cos", "rank")
      else withShufflePartitions(s, 8) {
        Ann.buildIvfIndex(s, emb.filter(col("vec_id") < 100), idxPath, numCells = 16)
        Ann.appendToIvfIndex(emb.filter(col("vec_id") >= 100), idxPath, "gate_delta")
        Ann.promoteIvfDelta(s, idxPath)
        require(Ann.readableVecShardDirs(s, idxPath).isEmpty,
          "q_ann_promoted: promotion must fold every delta shard")
        val queries = emb.filter(col("vec_id") < 8)
        Ann.searchIvfIndex(s, idxPath, queries, 5, probes = 16)
          .orderBy(col("query_id"), col("rank"))
          .localCheckpoint()
      }
    }
  }

  /**
   * STREAMING DSIR model refresh under the hash gate — promoting
   * [[graft.streaming.StreamingDsir.runUpdate]] (spec-only) to a daily
   * CORRECTNESS row: a base model is fit on the window's doc_id%3==0
   * slice, the other two slices stream in as two micro-batches each
   * folding into the model through Dsir.update (batchId as the
   * idempotency label), and the final servable generation's ratio
   * table + totals must hash-equal the oracle's FROM-SCRATCH fit over
   * the whole window — counts are additive, so streamed incremental
   * refresh ≡ monolithic refit, bucket by quantized bucket. Bounded
   * window (doc_id < 1200) ⇒ flat cost at any sf; per-run model/
   * checkpoint dirs deleted after materialization.
   */
  private def qStreamDsirUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val window = ld(s, dir, "documents")
      .filter(col("doc_id") < 1200)
      .select(col("doc_id"), col("text"),
        coalesce(col("source") === "src0", lit(false)).as("is_t"))
      .as[(Long, String, Boolean)]
      .collect().toSeq // bounded: < 1200 fixed-window rows at any sf
    if (window.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)].toDF("bucket", "ratio_q", "nt", "nr")
    val slices = Seq(0L, 1L, 2L).map(i => window.filter(d => math.floorMod(d._1, 3L) == i))
    scratch(s, "q_stream_dsir_upd") { base => withShufflePartitions(s, 8) {
      val modelPath = s"$base/model"
      graft.operators.Dsir.fit(slices.head.toDF("doc_id", "text", "is_t"),
        "doc_id", "text", col("is_t"), buckets = 4096, path = modelPath)
      driveStream(s, slices.tail)(ds =>
        graft.streaming.StreamingDsir.runUpdate(ds.toDF("doc_id", "text", "is_t"),
          col("is_t"), modelPath, checkpoint = s"$base/ck"))
      val (_, nt, nr, _) = graft.operators.Dsir.readMeta(s, modelPath)
      graft.operators.Dsir.ratiosOf(s, modelPath)
        .select(col("bucket"), col("ratio_q"), lit(nt).as("nt"), lit(nr).as("nr"))
        .orderBy(col("bucket"))
        .localCheckpoint()
    } }
  }

  /**
   * The SAME contamination check through the Bloom-prefilter scale
   * path (TextAnalysis.contaminationScreenBloom): benchmark grams
   * folded into a Bloom filter (codegen'd might_contain screens the
   * corpus map-side), survivors exact-verified. False positives die in
   * the verify join and false negatives are impossible, so the result
   * is IDENTICAL to q_contamination — the oracle is the same
   * brute-force SQL, which is the point: the gate proves the scale
   * path exact.
   */
  private def qContaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = ld(s, dir, "documents")
    TextAnalysis
      .contaminationScreenBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5, fpp = 0.01)
      .orderBy(col("doc_id"))
  }

  /**
   * Per-domain document cap (Curation.capPerDomain): within each
   * source keep the 10 highest-quality docs (doc_id tiebreak), emit
   * every doc with its rank and keep verdict — the anti-domination
   * curation gate. One domain-key shuffle + spillable rank window.
   */
  private def qDomainCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation
      .capPerDomain(ld(s, dir, "documents"), "doc_id", "text", "source", maxPerDomain = 10)
      .orderBy(col("doc_id"))

  /**
   * Hybrid retrieval (Retrieval.hybridTopK): BM25 and integer TF-IDF
   * dot-product legs over one shared postings table, fused by
   * reciprocal-rank fusion — ranks only, so the legs' score scales
   * never meet and both legs' integer-exact rankings keep the fusion
   * engine-deterministic. Top-5 per query with both leg ranks audited.
   */
  private def qHybridRetrieval(s: SparkSession, dir: String): DataFrame =
    Retrieval
      .hybridTopK(s, ld(s, dir, "documents"), "doc_id", "text", kPerLeg = 10, k = 5)
      .orderBy(col("query_id"), col("rank"))

  /**
   * Corpus-internal boilerplate signal (TextAnalysis.boilerplate):
   * word 5-grams shared by >= 2 documents of the same source are
   * boilerplate; per doc, the fraction of its grams that are. The gram
   * table shuffles once — frequency aggregate and join back share the
   * (source, gram) hash partitioning.
   */
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .boilerplate(ld(s, dir, "documents"), "doc_id", "text", "source", n = 5, minDf = 2)
      .orderBy(col("doc_id"))

  /**
   * Data-mixing weights (DoReMi-lite static mix): per-(lang, source)
   * token totals, each domain's share of the corpus, and the
   * uniform-target reweighting factor weight = target_share /
   * actual_share = tot / (n_groups · n_tokens) — the numbers a
   * training pipeline feeds into per-domain sampling. One
   * map-side-combined aggregate over the corpus; the totals side is a
   * 1-row broadcast, and every share/weight is exact integer sums +
   * one IEEE division so both engines agree bitwise.
   */
  /**
   * Temperature-scaled sampling weights — the multilingual upsampling
   * standard: p_i ∝ n_i^α at α = 0.5, so low-resource domains are
   * sampled above their raw token share (α=1 is proportional, α→0
   * uniform). Exactness: α=0.5 is sqrt, which IEEE 754 requires
   * correctly rounded (unlike pow — engines may differ sub-ulp), each
   * sqrt is quantized to an exact integer (floor(·1e6 + ½)) BEFORE the
   * normalization sum (exact, order-independent), and each probability
   * is ONE IEEE division — bit-identical in both engines.
   */
  private def qMixAlpha(s: SparkSession, dir: String): DataFrame = {
    val perSrc = ld(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("n_tokens"))
      .withColumn("sq_micro",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
    val tot = perSrc.agg(sum(col("sq_micro").cast("decimal(38,0)")).as("tot_sq"))
    perSrc
      .crossJoin(broadcast(tot))
      .select(
        col("lang"), col("source"), col("n_tokens"),
        (col("sq_micro").cast("double") / col("tot_sq").cast("double")).as("p_alpha"))
      .orderBy(col("lang"), col("source"))
  }

  private def qMixWeights(s: SparkSession, dir: String): DataFrame = {
    val perSrc = ld(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("tot_tokens"), count(lit(1)).as("n_groups"))
    perSrc
      .crossJoin(broadcast(tot))
      .select(
        col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_tokens").cast("double")).as("actual_share"),
        // n_tokens = 0 (a group of empty docs) has no defined weight:
        // guard so both engines answer NULL instead of Spark-NULL vs
        // DuckDB-Infinity on the raw division
        when(col("n_tokens") > 0,
          col("tot_tokens").cast("double") / (col("n_groups") * col("n_tokens")).cast("double")).as("weight"))
      .orderBy(col("lang"), col("source"))
  }

  /**
   * Quality-weighted (importance) sampling: keep a doc with probability
   * equal to its quality score, decided by the deterministic content
   * fingerprint as the uniform draw (u = fp / 2^31-1) — reproducible
   * across runs and engines, no RNG state. The data-mixing primitive a
   * training pipeline uses to upsample clean text. For production,
   * salt the fingerprint if it also keys dedup, to decorrelate draws.
   */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        (TextAnalysis.fingerprint(col("text")).cast("double") / lit(2147483647.0)).as("u"))
      .withColumn("kept", col("u") < col("quality"))
      .orderBy(col("doc_id"))

  // ==================================================================
  // §2.12 multimodal
  // ==================================================================

  /** Full-fidelity media decode (Multimodal.decodeFeatures): payloads
    * are REAL encoded BMP / WAV PCM16 / frame-container blobs rendered
    * deterministically from doc_id; the engine parses them
    * (header offset, row stride, bottom-up flip, B-G-R order, sample
    * width) and reports dimensions, frame counts, and the exact-integer
    * content digest (Σ luma·1000 / Σ (sample+32768)). The oracle
    * re-derives byte sizes from the format layout formulas and the
    * digest from the generator arithmetic directly — so a wrong stride,
    * flipped row, swapped channel, or mis-sized header fails the
    * hash-exact gate. */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal
      .decodeFeatures(s, Multimodal.renderMedia(s, ld(s, dir, "documents")))
      .toDF()
      .orderBy(col("doc_id"))

  /** Perceptual average-hash over REAL decoded pixels
    * (Multimodal.aHash): BMP-decode to a top-down luma grid, exact
    * integer 8×8 box downsample, bit rule cs·N > total·cn in exact
    * integers. The oracle recomputes every pixel's luma from the
    * generator arithmetic and the same cell/bit rules, so the 64-bit
    * fingerprints hash-match across engines only if the whole
    * encode→decode→hash chain is pixel-exact. The pairing mechanism
    * (8-block pigeonhole + hamming verify, complete to radius 7) is
    * spec-proven on rendered near-identical images (MultimodalSpec). */
  private def qMultimodalPhash(s: SparkSession, dir: String): DataFrame =
    Multimodal
      .aHash(s, Multimodal.renderMedia(s, ld(s, dir, "documents").filter(pmod(col("doc_id"), lit(3)) === 0)))
      .toDF()
      .select(col("doc_id"), col("fmt"), col("byte_len"), col("phash_hi"), col("phash_lo"))
      .orderBy(col("doc_id"))

  /** One-to-many frame sampling (decode fan-out): video frames
    * addressed by parsing the container's REAL length-prefix index;
    * img/audio emit one whole-payload frame. Oracle recomputes the
    * offsets from the container layout formula. */
  private def qMultimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal
      .sampleFrames(s, Multimodal.renderMedia(s, ld(s, dir, "documents").filter(col("doc_id") < 100)))
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Image RESIZE under the hash gate (Multimodal.resizeLuma): img AND
    * video (poster-frame) payloads box-average-downsampled to a 4×4
    * exact-integer luma thumbnail; the gate hashes the thumbnail's sum
    * and position-weighted digest per doc while the oracle re-derives
    * every cell from the generator arithmetic and the same
    * floor(Σluma/count) rule — a stride/flip/cell-mapping bug in the
    * decode OR the resize diverges here. The thumb array itself stays
    * out of the gate (driver compare is scalar-typed) but is spec'd
    * cell-by-cell in MultimodalSpec. */
  private def qMultimodalResize(s: SparkSession, dir: String): DataFrame =
    Multimodal
      .resizeLuma(s, Multimodal.renderMedia(s, ld(s, dir, "documents").filter(col("doc_id") < 200)))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("out_w"), col("out_h"), col("thumb_sum"), col("thumb_digest"))
      .orderBy(col("doc_id"))

  // ==================================================================
  // registry
  // ==================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_sum_min_max" -> (qAggSumMinMax _),
    "q_agg_avg" -> (qAggAvg _),
    "q_agg_distinct_count" -> (qAggDistinctCount _),
    "q_agg_hll_count" -> (qAggHllCount _),
    "q_agg_distinct_random" -> (qAggDistinctRandom _),
    "q_window_lag" -> (qWindowLag _),
    "q_funnel" -> (qFunnel _),
    "q_stream_funnel" -> (qStreamFunnel _),
    "q_stream_retention" -> (qStreamRetention _),
    "q_stream_anomaly" -> (qStreamAnomaly _),
    "q_retention" -> (qRetention _),
    "q_event_paths" -> (qEventPaths _),
    "q_window_funcs" -> (qWindowFuncs _),
    "q_anomaly" -> (qAnomaly _),
    "q_grouping_rollup" -> (qGroupingRollup _),
    "q_grouping_cube" -> (qGroupingCube _),
    "q_agg_percentile" -> (qAggPercentile _),
    "q_agg_stats" -> (qAggStats _),
    "q_profile" -> (qProfile _),
    "q_semi_anti" -> (qSemiAnti _),
    "q_set_ops" -> (qSetOps _),
    "q_time_trunc" -> (qTimeTrunc _),
    "q_time_extract" -> (qTimeExtract _),
    "q_time_interval" -> (qTimeInterval _),
    "q_sql_agg" -> (qSqlAgg _),
    "q_sql_topn" -> (qSqlTopn _),
    "q_upsert" -> (qUpsert _),
    "q_sessionize" -> (qSessionize _),
    "q_str_funcs" -> (qStrFuncs _),
    "q_tokens" -> (qTokens _),
    "q_stemmed_tokens" -> (qStemmedTokens _),
    "q_translit" -> (qTranslit _),
    "q_split" -> (qSplit _),
    "q_arith" -> (qArith _),
    "q_is_null" -> (qIsNull _),
    "q_cmp_logic" -> (qCmpLogic _),
    "q_in_notin" -> (qInNotin _),
    "q_case" -> (qCase _),
    "q_array_ops" -> (qArrayOps _),
    "q_filter_range" -> (qFilterRange _),
    "q_postfilter" -> (qPostfilter _),
    "q_limit" -> (qLimit _),
    "q_join_link" -> (qJoinLink _),
    "q_join_link_filtered" -> (qJoinLinkFiltered _),
    "q_link_declared" -> (qLinkDeclared _),
    "q_join_facts" -> (qJoinFacts _),
    "q_skew_join" -> (qSkewJoin _),
    "q_dot_fused" -> (qDotFused _),
    "q_asof_attribution" -> (qAsofAttribution _),
    "q_range_join" -> (qRangeJoin _),
    "q_inverted_phrase" -> (qInvertedPhrase _),
    "q_cooccurrence" -> (qCooccurrence _),
    "q_sample_split" -> (qSampleSplit _),
    "q_group_split" -> (qGroupSplit _),
    "q_vocab_stats" -> (qVocabStats _),
    "q_tfidf" -> (qTfidf _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_source_similarity" -> (qSourceSimilarity _),
    "q_rollup" -> (qRollup _),
    "q_topk" -> (qTopk _),
    "q_type_convs" -> (qTypeConvs _),
    "q_stream_ingest" -> (qStreamIngest _),
    "q_stream_window" -> (qStreamWindow _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_dedup_ngram_jaccard" -> (qDedupNgramJaccard _),
    "q_dedup_ngram_collapsed" -> (qDedupNgramCollapsed _),
    "q_dedup_cross" -> (qDedupCross _),
    "q_dedup_cross_bucketed" -> (qDedupCrossBucketed _),
    "q_dedup_cross_delta" -> (qDedupCrossDelta _),
    "q_dedup_cluster" -> (qDedupCluster _),
    "q_curate" -> (qCurate _),
    "q_dedup_embed" -> (qDedupEmbed _),
    "q_dedup_embed_ivf" -> (qDedupEmbedIvf _),
    "q_ann_bruteforce" -> (qAnnBruteforce _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_indexed" -> (qAnnIndexed _),
    "q_ann_admitted" -> (qAnnAdmitted _),
    "q_ann_pq_admitted" -> (qAnnPqAdmitted _),
    "q_ann_pq" -> (qAnnPq _),
    "q_ann_pq_indexed" -> (qAnnPqIndexed _),
    "q_text_langid" -> (qTextLangid _),
    "q_text_quality" -> (qTextQuality _),
    "q_text_tokencount" -> (qTextTokencount _),
    "q_chunk_tokens" -> (qChunkTokens _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_corpus_diff" -> (qCorpusDiff _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_multimodal_phash" -> (qMultimodalPhash _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_multimodal_resize" -> (qMultimodalResize _),
    "q_bm25" -> (qBm25 _),
    "q_bm25_admitted" -> (qBm25Admitted _),
    "q_text_repetition" -> (qTextRepetition _),
    "q_substring_dup" -> (qSubstringDup _),
    "q_mix_alpha" -> (qMixAlpha _),
    "q_pack_shards" -> (qPackShards _),
    "q_pack_chunks" -> (qPackChunks _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_embed_quant" -> (qEmbedQuant _),
    "q_contamination" -> (qContamination _),
    "q_stream_contamination" -> (qStreamContamination _),
    "q_stream_dedup" -> (qStreamDedup _),
    "q_stream_semdedup" -> (qStreamSemdedup _),
    "q_stream_keep_best" -> (qStreamKeepBest _),
    "q_stream_dedup_exact" -> (qStreamDedupExact _),
    "q_stream_vector_admit" -> (qStreamVectorAdmit _),
    "q_contamination_bloom" -> (qContaminationBloom _),
    "q_domain_cap" -> (qDomainCap _),
    "q_hybrid_retrieval" -> (qHybridRetrieval _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_rollup_routed" -> (qRollupRouted _),
    "q_rollup_routed_avg" -> (qRollupRoutedAvg _),
    "q_semdedup" -> (qSemdedup _),
    "q_knn_join" -> (qKnnJoin _),
    "q_knn_join_ivf" -> (qKnnJoinIvf _),
    "q_knn_join_split" -> (qKnnJoinSplit _),
    "q_knn_clusters" -> (qKnnClusters _),
    "q_dedup_keep_best" -> (qDedupKeepBest _),
    "q_collocations" -> (qCollocations _),
    "q_lm_perplexity" -> (qLmPerplexity _),
    "q_dsir_select" -> (qDsirSelect _),
    "q_dsir_served" -> (qDsirServed _),
    "q_stream_dsir" -> (qStreamDsir _),
    "q_stream_dsir_update" -> (qStreamDsirUpdate _),
    "q_dsir_updated" -> (qDsirUpdated _),
    "q_nb_classify" -> (qNbClassify _),
    "q_zorder" -> (qZorder _),
    "q_lm_bigram" -> (qLmBigram _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_mix_weights" -> (qMixWeights _),
    "q_pii_scrub" -> (qPiiScrub _),
    "q_ln_quant_canary" -> (qLnQuantCanary _),
    "q_item_fix" -> (qItemFix _),
    "q_result_cached" -> (qResultCached _),
    "q_dedup_cross_compacted" -> (qDedupCrossCompacted _),
    "q_ann_promoted" -> (qAnnPromoted _),
    "q_dedup_admitted" -> (qDedupAdmitted _),
    "q_dedup_cross_promoted" -> (qDedupCrossPromoted _)
  )

  def oracleSql: Map[String, String] = OracleSql.all

  /**
   * OFD item-name mojibake repair under the hash gate
   * ([[graft.functions.ItemFixer]] — reference yupana-utils
   * OfdItemFixer.scala:22-29): deterministic broken strings are
   * CONSTRUCTED from the documents table (guillemet mojibake wrapping,
   * a cp866 '╣' numero and a '╕' ё-word injected per row) and repaired
   * with `graft_fix_item`; the oracle builds the identical broken
   * strings and applies the identical replace chain, so the gate pins
   * the full replacement table's semantics cross-engine. Pure per-row
   * codegen'd column algebra — no shuffle at any scale.
   */
  private def qItemFix(s: SparkSession, dir: String): DataFrame =
    ld(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("┬л"), substring(col("text"), 1, 40), lit("┬╗ ╣"),
          (col("doc_id") % 10).cast("string"), lit(" г╕ссер")).as("broken"))
      .select(col("doc_id"), col("broken"),
        call_function("graft_fix_item", col("broken")).as("fixed"))
      .orderBy(col("doc_id"))

  /**
   * Cross-engine ln-quantization CANARY. Every quantized-surprisal
   * operator (Dsir, NaiveBayes, CorpusStats LM filters, BM25 idf)
   * rests on one cross-engine assumption: `java.lang.Math.log` and
   * DuckDB's libm `ln` round identically before `floor(1e6·…)`. True
   * on this hardware today — but a 1-ulp divergence AT a floor
   * boundary would flip a red gate on q_dsir_* / q_nb_classify /
   * q_lm_* with no readable signal. This gate makes the assumption itself a
   * named daily-red-able row: 65,536 exact integer ratios (pseudo-
   * random denominators, plus pure ln(n) and the near-zero ln(n/(n+1))
   * family) swept through BOTH engines' exact leaf form —
   * floor(1e6 · ln(one IEEE division of exact integers)) — and
   * hash-compared. libm divergences are systematic across ranges, so
   * a dense sweep catches a JDK/DuckDB/glibc upgrade drift as THIS
   * row going red instead of a cryptic operator-gate failure.
   * Flat-cost: generated from range(), independent of sf.
   */
  /**
   * Query-RESULT cache under the hash gate (reference parity:
   * yupana-cache CacheFactory.scala + its Caffeine/Ehcache/Ignite
   * backends — the reference caches hot lookups in-process; graft
   * caches whole deterministic query results as version-addressed
   * parquet, [[graft.core.ResultCache]]). The probe aggregation runs
   * THROUGH the cache twice against the same dataKey (the same
   * source-file fingerprint the fitted-model fixtures use): the first
   * call populates — idempotent across gate runs — a require()d
   * lookup proves the entry is actually servable (a silent miss reds
   * this row), and the SECOND call's served rows are what the oracle
   * hash-compares: a cache hit must be bit-identical to recompute.
   * Entries are keyed (data=<version>/plan=<canonical-fingerprint>),
   * so an upsert/regeneration changes the key and stale entries become
   * unreachable; explicit invalidation + the upsert race are spec'd in
   * PlatformSpec against a real upsert.
   */
  private def qResultCached(s: SparkSession, dir: String): DataFrame = {
    val cacheDir = s"${fixtureRoot(s)}/result_cache/${dirKey(dir)}"
    def probe = ld(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("cnt"))
    val key = dataKey(s, dir, "orders")
    graft.core.ResultCache.through(probe, key, cacheDir)
    require(graft.core.ResultCache.lookup(probe, key, cacheDir).isDefined,
      "q_result_cached: the populated entry must be servable")
    graft.core.ResultCache.through(probe, key, cacheDir)
      .orderBy(col("o_orderpriority"))
  }

  private def qLnQuantCanary(s: SparkSession, dir: String): DataFrame =
    s.range(1, 65537)
      .select(col("id"),
        (pmod(col("id") * lit(48271L), lit(99991L)) + lit(1L)).as("den"))
      .select(
        col("id"),
        col("den"),
        floor(log(col("id").cast("double") / col("den").cast("double")) * lit(1000000.0))
          .cast("long").as("ratio_q"),
        floor(log(col("id").cast("double")) * lit(1000000.0)).cast("long").as("int_q"),
        floor(log(col("id").cast("double") / (col("id") + lit(1L)).cast("double")) * lit(1000000.0))
          .cast("long").as("adj_q"))
      .orderBy(col("id"))
}
