package graft.tools

import graft.SparkEntry
import graft.core.LocalSession

/** Time individual SparkEntry queries in isolation: `runMain
  * graft.tools.TimeQuery <sfDir> <name> [name...]` — each query runs
  * `reps` times (first run = warm), printing every run's seconds, so a
  * bench regression can be attributed (cold-vs-steady, plan change,
  * data change) without re-running the whole suite. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // `all` sweeps every query in the fixed alphabetical bench order —
    // the BENCH_IDLE.json reference sweep
    val names =
      if (args.length > 1 && args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.drop(1).toSeq
      else Seq("q_agg_sum_min_max")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // attribution dial: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — e.g. turn
    // AQE off to test whether a bimodal timing is a runtime re-plan
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';').filter(_.contains('=')))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = LocalSession("graft-timequery", System.getProperty("java.io.tmpdir"), extra: _*)
    // same pre-loop fixture phase as Bench: the first (warm) rep of an
    // index-backed query must time the PROBE path, not fixture DDL —
    // otherwise the idle reference sweep and the driver bench disagree
    // by exactly the one-time build cost this phase exists to exclude
    SparkEntry.setupFixtures(spark, sfDir)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timequery] $name: ${times.map(t => f"$t%.2f").mkString(", ")} s")
      // settle after a heavy query so its GC/scheduler tail does not
      // contaminate the NEXT query's reps (the r8 sf0.5 sweep measured
      // q_dedup_simhash at 11s in sweep position — directly after the
      // quadratic forced-IVF gate — vs 1.7s in isolation)
      if (times.exists(_ > 5.0)) { System.gc(); Thread.sleep(3000) }
    }
    spark.stop()
  }
}
