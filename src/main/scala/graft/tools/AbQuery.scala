package graft.tools

import graft.{Bench, SparkEntry}
import graft.core.LocalSession

/**
 * Interleaved A/B timing of one runtime-mutable SQL conf on named
 * queries — the machine's speed drifts ~2x between stretches, so
 * cross-JVM before/after comparisons mislead; alternating A and B reps
 * inside ONE JVM pins both sides to the same stretch. Usage:
 * `AbQuery <sfDir> <key=value> <name> [name...]`, SPARK_GRAFT_REPS
 * pairs per query (default 4). Prints per-rep seconds, the A/B medians
 * and the [[Bench.calibrate]] anchor (ms) before and after each query's
 * pairs, so a pair timed in a stretched window reads as such.
 */
object AbQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val Array(k, v) = args(1).split("=", 2)
    val names = args.drop(2).toSeq
    val cpus = LocalSession.cpus
    val pairs = sys.env.getOrElse("SPARK_GRAFT_REPS", "4").toInt
    val spark = LocalSession("graft-abquery", System.getProperty("java.io.tmpdir"))
    SparkEntry.setupFixtures(spark, sfDir)
    // a conf with no set/default value must be RESTORED by unset, not
    // by setting "" (an empty string is not "unset" and can error or
    // silently change the A-side plan)
    val baseline: Option[String] = spark.conf.getOption(k)
    def restoreA(): Unit =
      baseline.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    val aLabel = baseline.getOrElse("<unset>")
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    Bench.calibrate(spark, cpus) // JIT
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      def timed(): Double = {
        val t0 = System.nanoTime(); fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9
      }
      timed(); spark.conf.set(k, v); timed() // warm both shapes
      restoreA(); val c0 = Bench.calibrate(spark, cpus) // anchors run on the A conf
      val (as, bs) = (1 to pairs).map { _ =>
        restoreA(); val a = timed()
        spark.conf.set(k, v); val b = timed()
        (a, b)
      }.unzip
      restoreA()
      val c1 = Bench.calibrate(spark, cpus)
      println(f"[abquery] $name A(${aLabel}): ${as.map(t => f"$t%.2f").mkString(",")} med=${med(as)}%.2f" +
        f" | B($v): ${bs.map(t => f"$t%.2f").mkString(",")} med=${med(bs)}%.2f  B/A=${med(bs) / med(as)}%.2f  C0=$c0 C=$c1")
    }
    spark.stop()
  }
}
