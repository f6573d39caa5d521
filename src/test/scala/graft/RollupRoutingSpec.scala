package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.sources.{Rollup, TsLayout}
import graft.sql.{GraftFunctions, RollupRoute, RollupRoutes}

/**
 * Automatic query-over-rollup routing: covered aggregates over the
 * fact scan are rewritten onto the materialized rollup — asserted on
 * the files the plan actually reads AND on result identity; uncovered
 * aggregates stay on the fact.
 */
class RollupRoutingSpec extends SparkSpecBase {

  private lazy val base = tempDir("routing_spec")
  private lazy val factPath = s"$base/fact"
  private lazy val rollPath = s"$base/events_by_day"

  private def scanPaths(df: DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  private def registerDayRoute(): Unit =
    RollupRoutes.register(RollupRoute(
      factPathContains = factPath, rollupPath = rollPath,
      timeCol = "ts", grain = "day", dims = Seq("event_type"),
      sums = Map("value" -> "v", "user_id" -> "su"), countCol = Some("c"),
      mins = Map("value" -> "vmin"), maxs = Map("value" -> "vmax"),
      counts = Map("value" -> "cv", "user_id" -> "cu"),
      sumCasts = Map("value" -> org.apache.spark.sql.types.DecimalType(18, 4)),
      sketches = Map("user_id" -> "hu"), sketchLgK = Map("user_id" -> 12)))

  private lazy val facts: DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = graft.sources.EventTime.normalizeTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    TsLayout.write(raw, graft.schema.TestSchema.events, factPath)
    val f = TsLayout.read(spark, factPath)
    Rollup(
      "events_by_day",
      F.truncDay(col("ts")),
      Seq(col("event_type")),
      Seq(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,4)")).as("v"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        count(col("value")).as("cv"),
        sum(col("user_id")).as("su"), count(col("user_id")).as("cu"),
        hll_sketch_agg(col("user_id"), 12).as("hu"))
    ).materialize(f, rollPath)
    GraftFunctions.installRollupRouting(spark)
    registerDayRoute()
    f
  }

  private def monthAgg(src: DataFrame): DataFrame =
    src
      .groupBy(F.truncMonth(col("ts")).as("month"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"))
      .orderBy(col("month"), col("event_type"))

  test("covered month-grain aggregate reads the rollup, not the fact, with identical results") {
    val routed = monthAgg(facts)
    val paths = scanPaths(routed)
    assert(paths.contains(rollPath), s"expected rollup scan, got:\n$paths")
    assert(!paths.contains(factPath), s"fact must not be scanned, got:\n$paths")

    RollupRoutes.clear()
    try {
      val direct = monthAgg(facts)
      assert(scanPaths(direct).contains(factPath))
      assert(routed.collect().toSeq == direct.collect().toSeq)
    } finally registerDayRoute()
  }

  test("same-grain group with a dim filter routes; the filter carries to the rollup") {
    val routed = facts
      .filter(col("event_type") === "click")
      .groupBy(F.truncDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"))
    assert(scanPaths(routed).contains(rollPath))

    RollupRoutes.clear()
    val direct = facts
      .filter(col("event_type") === "click")
      .groupBy(F.truncDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"))
    val same = routed.collect().toSeq == direct.collect().toSeq
    registerDayRoute()
    assert(same)
  }

  test("grain-aligned time range routes exactly; misaligned bounds stay on the fact") {
    facts // force init + route registration
    def ranged(src: DataFrame, lo: String, hi: String): DataFrame =
      src
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf(lo)) &&
          col("ts") < lit(java.sql.Timestamp.valueOf(hi)))
        .groupBy(F.truncDay(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
        .orderBy(col("day"))

    // day-aligned bounds: routed
    val routed = ranged(facts, "2024-01-05 00:00:00", "2024-02-01 00:00:00")
    assert(scanPaths(routed).contains(rollPath), scanPaths(routed))
    RollupRoutes.clear()
    val direct = ranged(facts, "2024-01-05 00:00:00", "2024-02-01 00:00:00")
    val same = routed.collect().toSeq == direct.collect().toSeq
    registerDayRoute()
    assert(same)

    // mid-day bound: a day-grain rollup cannot answer it exactly
    val misaligned = ranged(facts, "2024-01-05 12:00:00", "2024-02-01 00:00:00")
    assert(scanPaths(misaligned).contains(factPath), "misaligned time bound must not route")
  }

  test("with day and month rollups registered, a month query picks the coarser (smaller) one") {
    facts // init + day route
    val monthRoll = s"$base/events_by_month"
    Rollup("events_by_month", F.truncMonth(col("ts")), Seq(col("event_type")),
      Seq(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,4)")).as("v")))
      .materialize(facts, monthRoll)
    RollupRoutes.register(RollupRoute(
      factPathContains = factPath, rollupPath = monthRoll,
      timeCol = "ts", grain = "month", dims = Seq("event_type"),
      sums = Map("value" -> "v"), countCol = Some("c")))
    try {
      val routed = facts
        .groupBy(F.truncMonth(col("ts")).as("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("month"))
      assert(scanPaths(routed).contains(monthRoll), "month query should hit the month rollup")
      // a day query can only use the day rollup
      val dayQ = facts
        .groupBy(F.truncDay(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("day"))
      val p = scanPaths(dayQ)
      assert(p.contains(rollPath) && !p.contains(monthRoll))
    } finally RollupRoutes.unregister(monthRoll)
  }

  test("routing composes under HAVING / ORDER BY / LIMIT parents") {
    facts
    def havingQ(src: DataFrame): DataFrame =
      src
        .groupBy(F.truncMonth(col("ts")).as("month"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 5) // HAVING over the (preserved) output attr
        .orderBy(col("n").desc, col("month"), col("event_type"))
        .limit(3)
    val routed = havingQ(facts)
    assert(scanPaths(routed).contains(rollPath))
    RollupRoutes.clear()
    val direct = havingQ(facts)
    val same = routed.collect().toSeq == direct.collect().toSeq
    registerDayRoute()
    assert(same)
  }

  test("count(m) and the exact-average quotient route; native avg routes for integral metrics") {
    facts // force init + route registration
    def avgQ(src: DataFrame): DataFrame =
      src
        .groupBy(F.truncMonth(col("ts")).as("month"), col("event_type"))
        .agg(
          count(col("value")).as("nn"),
          (sum(col("value").cast("decimal(18,4)")).cast("double") / count(col("value"))).as("av"),
          avg(col("user_id")).as("au"))
        .orderBy(col("month"), col("event_type"))
    val routed = avgQ(facts)
    val p = scanPaths(routed)
    assert(p.contains(rollPath) && !p.contains(factPath), s"expected rollup-only scan:\n$p")
    RollupRoutes.clear()
    val direct = avgQ(facts)
    val same = routed.collect().toSeq == direct.collect().toSeq
    registerDayRoute()
    assert(same)
  }

  test("deriveRoute reads the exact hand-written route off the rollup's own aggregates") {
    facts // force init (materializes the rollup below)
    val roll = Rollup(
      "events_by_day",
      F.truncDay(col("ts")),
      Seq(col("event_type")),
      Seq(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,4)")).as("v"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        count(col("value")).as("cv"),
        sum(col("user_id")).as("su"), count(col("user_id")).as("cu"),
        hll_sketch_agg(col("user_id"), 12).as("hu")))
    val derived = roll.deriveRoute(facts, factPath, rollPath)
    val handWritten = RollupRoute(
      factPathContains = factPath, rollupPath = rollPath,
      timeCol = "ts", grain = "day", dims = Seq("event_type"),
      sums = Map("value" -> "v", "user_id" -> "su"), countCol = Some("c"),
      mins = Map("value" -> "vmin"), maxs = Map("value" -> "vmax"),
      counts = Map("value" -> "cv", "user_id" -> "cu"),
      sumCasts = Map("value" -> org.apache.spark.sql.types.DecimalType(18, 4)),
      sketches = Map("user_id" -> "hu"), sketchLgK = Map("user_id" -> 12),
      timeZone = Some("UTC")) // derivation stamps the materializing session's tz
    assert(derived.contains(handWritten))
    // a filtered rollup misses rows -> it must not derive a route
    assert(roll.copy(filter = Some(col("event_type") === "click"))
      .deriveRoute(facts, factPath, rollPath).isEmpty)
  }

  test("week grain, dim-only groups, and global aggregates all route") {
    facts // force init + route registration
    // week boundaries are day-aligned, so a day rollup answers week groups
    def weekQ(src: DataFrame) = src
      .groupBy(F.truncWeek(col("ts")).as("wk"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("wk"))
    // no time grouping at all: full-history rollup re-aggregation
    def dimQ(src: DataFrame) = src
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
      .orderBy(col("event_type"))
    def globalQ(src: DataFrame) = src.agg(count(lit(1)).as("n"))
    for ((q, label) <- Seq(weekQ _ -> "week", dimQ _ -> "dim-only", globalQ _ -> "global")) {
      val routed = q(facts)
      assert(scanPaths(routed).contains(rollPath), s"$label query should route")
      RollupRoutes.clear()
      val direct = q(facts)
      val same = routed.collect().toSeq == direct.collect().toSeq
      registerDayRoute()
      assert(same, s"$label routed result must equal the fact-side result")
    }
  }

  test("hll sketch estimate routes via union of the stored partials at the same lgK only") {
    facts // force init + route registration
    def hllQ(src: DataFrame, lgK: Int): DataFrame =
      src
        .groupBy(F.truncMonth(col("ts")).as("month"), col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lgK)).as("approx_users"))
        .orderBy(col("month"), col("event_type"))
    val routed = hllQ(facts, 12)
    val p = scanPaths(routed)
    assert(p.contains(rollPath) && !p.contains(factPath), s"expected rollup-only scan:\n$p")
    RollupRoutes.clear()
    val direct = hllQ(facts, 12)
    val same = routed.collect().toSeq == direct.collect().toSeq
    registerDayRoute()
    assert(same, "union of per-bucket sketches must estimate identically to the single pass")
    // a different precision cannot be answered by the stored sketches
    assert(scanPaths(hllQ(facts, 13)).contains(factPath), "mismatched lgK must not route")
    // a sketch over a column with no stored partials stays on the fact
    val other = facts
      .groupBy(F.truncMonth(col("ts")).as("month"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("props"), 12)).as("a"))
    assert(scanPaths(other).contains(factPath), "unsketched metric must not route")
  }

  test("lossy or mismatched casts block the route instead of changing the answer") {
    facts // force init + route registration
    // sum under a DIFFERENT cast than the rollup materialized: cast-then-sum
    // ≠ sum-then-cast for lossy casts, so this must stay on the fact
    val lossySum = facts
      .groupBy(F.truncDay(col("ts")).as("day"))
      .agg(sum(col("value").cast("long")).as("sv"))
    assert(scanPaths(lossySum).contains(factPath), "sum under a mismatched cast must not route")
    // min through a non-monotone cast (numeric → string orders "10" < "9")
    val strMin = facts
      .groupBy(F.truncDay(col("ts")).as("day"))
      .agg(min(col("value").cast("string")).as("m"))
    assert(scanPaths(strMin).contains(factPath), "min through a non-monotone cast must not route")
    // avg over the fractional metric: floating partial sums are not
    // bit-stable under re-association, so native avg(double) must not route
    val avgDouble = facts
      .groupBy(F.truncDay(col("ts")).as("day"))
      .agg(avg(col("value")).as("a"))
    assert(scanPaths(avgDouble).contains(factPath), "avg(double) must not route")
    // count(cast(m)): a cast can turn non-null into null, so only the
    // bare column matches — any cast must leave the query on the fact
    val castCount = facts
      .groupBy(F.truncDay(col("ts")).as("day"))
      .agg(count(col("value").cast("int")).as("n"))
    assert(scanPaths(castCount).contains(factPath), "count over a cast must not route")
  }

  test("rollup relation resolves once per registration, not once per planned query") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    facts // force init + route registration
    def rollupLocation(df: DataFrame): AnyRef = {
      df.collect()
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation
      }.collectFirst {
        case fs: HadoopFsRelation if fs.location.rootPaths.exists(_.toString.contains(rollPath)) =>
          fs.location
      }.getOrElse(fail("query did not route to the rollup"))
    }
    registerDayRoute() // fresh registration = fresh file index
    val l1 = rollupLocation(monthAgg(facts))
    val l2 = rollupLocation(monthAgg(facts))
    assert(l1 eq l2, "queries after one registration must share the cached file index")
    registerDayRoute() // re-registration invalidates the cached relation
    val l3 = rollupLocation(monthAgg(facts))
    assert(!(l1 eq l3), "re-registration must re-list the rollup files")
  }

  test("uncovered aggregates stay on the fact: finer grain, non-dim group, avg, distinct") {
    facts // force init + route registration
    val finer = facts.groupBy(F.truncHour(col("ts"))).agg(count(lit(1)))
    assert(scanPaths(finer).contains(factPath), "hour < day grain must not route")
    val nonDim = facts.groupBy(col("user_id")).agg(count(lit(1)))
    assert(scanPaths(nonDim).contains(factPath), "non-dim group must not route")
    val avgQ = facts.groupBy(F.truncDay(col("ts"))).agg(avg(col("value")))
    assert(scanPaths(avgQ).contains(factPath), "avg is not decomposable from these partials")
    val dist = facts.groupBy(F.truncDay(col("ts"))).agg(countDistinct(col("user_id")))
    assert(scanPaths(dist).contains(factPath), "distinct must not route")
  }

  test("count(NULL) answers 0 per group, never the rollup's row count") {
    facts
    // Spark's own constant folding usually neutralizes count(NULL)
    // before the rewrite rule runs (the agg routes grouping-keys-only,
    // which is valid); the rule's l.value != null guard is the backstop
    // for shapes that survive folding. Either way the VALUES must be 0,
    // not the per-group row counts a sum(count_col) rewrite would give.
    val q = facts.groupBy(F.truncDay(col("ts"))).agg(count(lit(null)).as("c"))
    val rows = q.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) == 0L),
      s"count(NULL) must be 0 per group: ${rows.take(3).toSeq}")
  }

  test("a route stamped with a different session timezone refuses to fire") {
    facts // registers the (tz-less, legacy-style) route used by other tests
    val tzRoute = RollupRoutes.all.find(_.rollupPath == rollPath).get
      .copy(timeZone = Some("America/New_York"))
    RollupRoutes.register(tzRoute)
    try {
      // session is UTC (SparkSpecBase): date_trunc buckets materialized
      // under New York time would be wrong answers here
      val q = facts.groupBy(F.truncDay(col("ts"))).agg(count(lit(1)).as("c"))
      assert(scanPaths(q).contains(factPath), "tz-mismatched route must stay on the fact")
      // matching tz routes again
      RollupRoutes.register(tzRoute.copy(timeZone = Some("UTC")))
      val q2 = facts.groupBy(F.truncDay(col("ts"))).agg(count(lit(1)).as("c"))
      assert(scanPaths(q2).contains(rollPath), "utc-stamped route must fire under UTC session")
    } finally RollupRoutes.register(tzRoute.copy(timeZone = None))
  }
}
