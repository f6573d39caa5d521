package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.LocalSession.cpus
    // bench_full.json (and Derby's log) go to the working directory
    val spark = graft.core.LocalSession("graft-bench", ".")

    // machine state BEFORE any work: a single end-of-run load sample
    // missed a ~3x degraded machine for a whole round (the r7 32s
    // dedup_cross_bucketed phantom) — both ends of the run are recorded
    val load0 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    // Explicit fixture-setup phase: build the one-time artifacts
    // (text index, bucketed table, IVF index, Derby catalog) BEFORE any
    // timing, so each query's warm pass below is the probe path a daily
    // pipeline pays and the rep-count policy sees honest numbers.
    SparkEntry.setupFixtures(spark, sfDir)

    // Untimed warm-up: JIT the scan/shuffle/sort/join/agg machinery so the
    // per-query timings below measure steady-state throughput (what a
    // long-lived cluster sees), not first-use interpreter/JIT cliffs —
    // a cold sort-merge join was measured 14x slower than warm.
    {
      import org.apache.spark.sql.functions._
      // JIT-warm the operator machinery with the same SHAPES the suite
      // uses but small outputs: the old 2M-row/1000-key self-join
      // counted ~2e9 joined rows and its GC pressure once froze the
      // driver past the heartbeat timeout — warm-up needs compiled
      // code paths, not big data
      val w = spark.range(500000).select(col("id"), (col("id") % 5000).as("k"), (col("id") % 7).as("v"))
      w.groupBy("k").agg(sum("v"), countDistinct("v")).count()
      w.as("a").join(w.as("b"), col("a.k") === col("b.k") && col("a.id") < col("b.id")).count()
      w.orderBy(col("v").desc, col("id")).limit(10).count()
      // string-keyed shuffled hash join + multi-column hash agg (the dedup join shape)
      val sk = w.limit(100000).select(concat(lit("k"), col("k") % 1000).as("ks"), col("id"), col("v"))
      sk.as("a").join(sk.as("b").hint("shuffle_hash"), col("a.ks") === col("b.ks") && col("a.id") < col("b.id"))
        .groupBy(col("a.id"), col("b.id")).agg(count(lit(1))).count()
      // interpreted higher-order-function path (zip_with/aggregate lambdas)
      val arr = spark.range(200000)
        .select(col("id"), transform(sequence(lit(0), lit(63)), i => xxhash64(col("id"), i)).as("a"))
      arr.select(aggregate(zip_with(col("a"), col("a"), (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _).as("s"))
        .agg(sum(col("s"))).count()
      spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()
    }

    // machine-stretch anchor at both ends of the run (see calibrate);
    // the first call JITs, the second measures
    calibrate(spark, cpus)
    val cal0 = calibrate(spark, cpus)

    // PER-QUERY STRETCH PROBE (r17, additions-only): C0/C bracket the
    // whole run, but this host's stretch arrives in minutes-scale
    // windows — a degraded mid-run window poisoned 4 queries in the r16
    // driver comparison while both end anchors read near-idle-ish. A
    // single-threaded ~20 ms driver CPU loop timed right after EVERY
    // query (untimed region — query seconds are untouched) makes a
    // stalled sample attributable PER QUERY: full array in
    // bench_full.json (`cq_ms`), and in the stdout line the median/p90
    // plus the indices of queries whose probe exceeded 2× the run
    // median (`cq_hot`, alphabetical q_ms order). A mid-suite full
    // Spark calibration every 16 queries (`C_mid`) keeps the
    // C0/C-comparable series too. First calls below JIT-warm the loop.
    def cpuProbe(): Long = {
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < 30000000L) { h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 29); i += 1 }
      if (h == 42L) Console.err.println("") // keep the loop un-eliminable
      math.round((System.nanoTime() - t0) / 1e6).max(1L)
    }
    cpuProbe(); cpuProbe()

    // Fixed alphabetical order + a per-query warm pass: Map iteration order
    // made round-over-round numbers incomparable (whichever query ran first
    // absorbed residual first-touch cost — a 10s q_topk at sf0.1 was pure
    // ordering noise), and steady-state per-query time is the number that
    // predicts cluster throughput.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val cqMs = new Array[Long](ordered.size)
    val cMid = scala.collection.mutable.ArrayBuffer.empty[Long]
    val looped = ordered.zipWithIndex.map { case ((name, fn), qi) =>
      // a failed query must NOT record its (near-zero) elapsed time as
      // a legitimate result — a broken query would read as a 10x win
      def timed(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      // warm pass: plan + JIT + page cache (untimed)
      val warm = timed()
      // Rep policy keys on the first TIMED value, not the warm pass:
      // the queries that most need reps are exactly those whose warm
      // absorbs residual one-time cost (three rounds of driver-bench
      // phantoms: r5 trio, r6 substring_dup 14.4s-vs-0.6s, r7's four
      // headliners) — a warm-based gate demoted them to single-timed on
      // a loaded machine. Median of 3 below 8s; genuinely slow queries
      // stay single-timed (signal-to-noise is fine, reps blow budget).
      val t =
        if (warm < 0) -1.0
        else {
          val t1 = timed()
          if (t1 < 0) -1.0
          else if (t1 < 8.0) {
            val reps = Seq(t1, timed(), timed())
            if (reps.exists(_ < 0)) -1.0 else reps.sorted.apply(1)
          } else t1
        }
      // stretch probes ride BETWEEN queries (untimed): per-query CPU
      // probe always, full Spark calibration every 16th query
      cqMs(qi) = cpuProbe()
      if ((qi + 1) % 16 == 0) cMid += calibrate(spark, cpus)
      name -> t
    }

    // routed-vs-disabled pair: the RollupRewriteRule's win as a recorded
    // number, not an inference. SYMMETRIC measurement: both sides time a
    // prebuilt DataFrame's first action (plan + execute), differing only
    // in whether the route registry is populated when the optimizer runs
    // — the in-loop q_rollup_routed number additionally pays the
    // layout/rollup setup checks, so it is not the comparison baseline.
    val routedPair = try {
      val fn = SparkEntry.queries("q_rollup_routed")
      fn(spark, sfDir).count() // warm: ETL, registration, page cache
      val onDf = fn(spark, sfDir)
      val t1 = System.nanoTime()
      onDf.count()
      val on = (System.nanoTime() - t1) / 1e9
      val offDf = fn(spark, sfDir)
      graft.sql.RollupRoutes.clear()
      val t2 = System.nanoTime()
      offDf.count()
      val off = (System.nanoTime() - t2) / 1e9
      Seq("q_rollup_routed_on" -> on, "q_rollup_routed_off" -> off)
    } catch { case _: Throwable => Seq.empty }

    val total = looped.map(_._2).sum
    val cal1 = calibrate(spark, cpus)
    val stretch = stretchField(cqMs, cMid.toSeq)
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val sfName = sfDir.split('/').last // basename: the path prefix is line budget
    val line = resultLine(looped, routedPair, load0, load, cal0, cal1, stretch, sfName)
    // full-precision keyed record for direct reading (the stdout line
    // is budget-bound; this file is not): seconds as floats, keyed by
    // full query name, plus machine-state fields
    val fullJson = {
      val qs = (looped ++ routedPair).map { case (k, v) =>
        "\"" + k + "\":" + num(v, 4)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","L0":${num(load0, 2)},"L":${num(load, 2)},"C0":$cal0,"C":$cal1,""" +
        stretch + s""""cq_ms":${cqMs.mkString("[", ",", "]")},"queries":$qs,"sf":"$sfName"}"""
    }
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // diagnostics only — never fail the bench
    println(line)
    if (line.length > 1925)
      Console.err.println(s"[bench] WARNING: JSON line ${line.length} chars — driver tail capture may clip it")
    spark.stop()
  }

  /** MACHINE-STRETCH ANCHOR: a fixed pure-compute probe (100M xxhash64
    * + sum, sf-independent, shuffle-free) in ms. The bench times it at
    * both ends of the run and every 16 queries; A/B timing brackets its
    * pairs with it. Host load has swung the bench 1.2-1.6x
    * round-over-round on identical code, so with the anchor beside a
    * number a stretched run is attributable at measurement time —
    * divide totals by C/C_idle instead of guessing from load averages.
    * Near-idle reference: ~640 ms at local[4] on a 4-core host. The
    * first call in a JVM JITs; time the second. */
  private[graft] def calibrate(spark: SparkSession, cpus: Int): Long = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    // pmod bounds the summands: a raw sum of 100M xxhash64 longs
    // overflows under ANSI mode (1e8 × 1e6 stays far below 2^63)
    spark.range(0L, 100000000L, 1L, cpus)
      .select(pmod(xxhash64(col("id")), lit(1000000L)).as("h")).agg(sum(col("h"))).head()
    math.round((System.nanoTime() - t0) / 1e6).max(1L)
  }

  // Locale.ROOT formatting: the f interpolator follows the JVM default
  // locale, and a decimal-comma locale would emit invalid JSON.
  // Trailing zeros trimmed ("0.50"→"0.5", "3.00"→"3"): ~1 char/query
  // of line budget.
  private def num(v: Double, dp: Int): String = {
    val s = String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
  }

  /** Per-query stretch summary: median/p90 of the per-query CPU probes
    * (`cqMs`), the mid-suite Spark anchors, and the indices
    * (alphabetical q_ms order) of queries probed at >2× the run median
    * — the degraded samples a comparison should discard. cq_hot is
    * capped at 32 indices for line budget; cq_hot_n carries the TRUE
    * count (a big count = the whole run is degraded and C0/C/C_mid
    * already tell that story); bench_full.json holds the complete
    * cq_ms array. Ends in a comma: it is spliced before later fields. */
  private[graft] def stretchField(cqMs: Array[Long], cMid: Seq[Long]): String = {
    val cqSorted = cqMs.sorted
    def cqPct(p: Double): Long =
      if (cqSorted.isEmpty) 0L
      else cqSorted(math.min((cqSorted.length * p).toInt, cqSorted.length - 1))
    val cq50 = cqPct(0.5)
    val cqHot = cqMs.zipWithIndex.filter(_._1 > 2 * cq50).map(_._2)
    s""""CQ50":$cq50,"CQ90":${cqPct(0.9)},"C_mid":${cMid.mkString("[", ",", "]")},""" +
      s""""cq_hot_n":${cqHot.length},"cq_hot":${cqHot.take(32).mkString("[", ",", "]")},"""
  }

  /** The bench's one stdout JSON line.
    *
    * Budget: the line's consumer keeps only the LAST 2000 chars of
    * output and sbt's ~75-char epilogue lands after ours, so it must
    * stay within ~1920 chars or its HEAD gets cut and the parse fails
    * (BENCH_r03 and r11 recorded `parsed: null`). No keyed per-query
    * dict fits that at 141 queries, so `q_ms` is an ARRAY of integer
    * milliseconds (-1 = failed) in ALPHABETICAL `SparkEntry.queries`
    * key order (`q_ms_order` names the convention in-line): ~5
    * chars/query at full regression-visible resolution. The 10 slowest
    * queries also get a named seconds dict (`queries`) so regressions
    * in the heavies read directly; bench_full.json holds the full keyed
    * map. No "q_unit" field: in r8/r9 lines it described the keyed
    * dict, which stays in seconds; the array's name carries its unit.
    *
    * "L0"/"L": 1-min load average at run start/end, rounded to int; -1
    * = unavailable on this platform (MXBean contract), never clamped to
    * 0, which would certify an unknown machine as idle. "C0"/"C": the
    * [[calibrate]] anchor at run start/end. */
  private[graft] def resultLine(
      looped: Seq[(String, Double)],
      routedPair: Seq[(String, Double)],
      load0: Double,
      load: Double,
      cal0: Long,
      cal1: Long,
      stretch: String,
      sfName: String
  ): String = {
    def li(v: Double) = if (v < 0) -1L else math.round(v)
    val total = looped.map(_._2).sum
    val arr = looped.map { case (_, v) =>
      if (v < 0) "-1" else math.round(v * 1000).toString
    }.mkString("[", ",", "]")
    val pair = routedPair.map { case (k, v) =>
      "\"" + k.stripPrefix("q_rollup_") + "_ms\":" + math.round(v * 1000) + ","
    }.mkString
    val slow = looped.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + num(v, 2) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","L0":${li(load0)},"L":${li(load)},""" +
      s""""C0":$cal0,"C":$cal1,""" + stretch +
      s""""queries":$slow,"q_note":"10 slowest; q_ms has all",""" +
      s""""q_ms_order":"alphabetical SparkEntry.queries keys",$pair"q_ms":$arr,"sf":"$sfName"}"""
  }
}
