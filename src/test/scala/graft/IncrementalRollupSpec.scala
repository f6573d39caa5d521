package graft

import org.apache.spark.sql.functions._
import graft.functions.F
import graft.sources.{Changelog, Rollup}

/**
 * Incremental rollup recomputation (reference ChangelogDaoHBase /
 * UpdateInterval flow): ingest marks touched time buckets dirty, the
 * rollup recomputes ONLY those buckets — asserted on the actual fact
 * files read and on the untouched output partitions' files.
 */
class IncrementalRollupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base = tempDir("incr_rollup")
  private val factPath = s"$base/fact"
  private val rollPath = s"$base/rollup"
  private val clPath = s"$base/changelog"

  private val roll = Rollup(
    name = "events_by_day",
    timeExpr = F.truncDay(col("ts")),
    groupBy = Seq(col("event_type")),
    aggregates = Seq(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,4)")).as("v")),
    filter = Some(col("event_type") =!= "noise")
  )

  private def monthBucket(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM")

  private def listFiles(dir: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val out = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) out(f.getPath.toString) = f.getModificationTime
      }
      out.toMap
    }
  }

  test("incremental rollup recomputes only dirty buckets; multi-output writes each path") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    def ev(id: Long, day: String, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(s"$day 10:00:00"), 1L, typ, v)

    val batch1 = Seq(
      ev(1, "2024-01-03", "click", 1.0), ev(2, "2024-01-04", "click", 2.0),
      ev(3, "2024-01-05", "noise", 9.0), ev(4, "2024-02-03", "view", 3.0),
      ev(5, "2024-02-04", "click", 4.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")

    // ingest batch 1 into a month-partitioned fact layout + mark dirty
    batch1.withColumn("b", monthBucket(col("ts")))
      .write.partitionBy("b").mode("append").parquet(factPath)
    Changelog.markDirty(batch1, monthBucket(col("ts")), clPath)

    val fact1 = spark.read.parquet(factPath)
    val run1 = roll.materializeIncremental(fact1, rollPath, clPath, col("b"), monthBucket)
    assert(run1.recomputed.toSet === Set("2024-01", "2024-02"))
    val after1 = listFiles(rollPath)

    // no dirty buckets -> no-op
    val run0 = roll.materializeIncremental(fact1, rollPath, clPath, col("b"), monthBucket)
    assert(run0.recomputed.isEmpty && listFiles(rollPath) === after1)

    // batch 2 touches ONLY February
    val batch2 = Seq(ev(6, "2024-02-05", "click", 5.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    batch2.withColumn("b", monthBucket(col("ts")))
      .write.partitionBy("b").mode("append").parquet(factPath)
    Changelog.markDirty(batch2, monthBucket(col("ts")), clPath)

    val fact2 = spark.read.parquet(factPath)
    val run2 = roll.materializeIncremental(fact2, rollPath, clPath, col("b"), monthBucket)
    assert(run2.recomputed === Seq("2024-02"))
    // pruning evidence: only February fact files were scanned
    assert(run2.inputFiles.nonEmpty && run2.inputFiles.forall(_.contains("b=2024-02")),
      s"expected only b=2024-02 inputs, got: ${run2.inputFiles}")
    // January's output partition untouched (same files, same mtimes)
    val after2 = listFiles(rollPath)
    val jan1 = after1.filter(_._1.contains("p_bucket=2024-01"))
    val jan2 = after2.filter(_._1.contains("p_bucket=2024-01"))
    assert(jan1 === jan2, "January rollup partition must not be rewritten")
    assert(after2.keys.exists(_.contains("p_bucket=2024-02")))

    // incremental result == full recompute (filter applied on both paths)
    val full = roll(spark.read.parquet(factPath).drop("b"))
      .select(col("rollup_time"), col("event_type"), col("c"), col("v").cast("double"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val incr = spark.read.parquet(rollPath)
      .select(col("rollup_time"), col("event_type"), col("c"), col("v").cast("double"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(incr === full)

    // multi-output: one computation, two destinations
    val outA = s"$base/outA"; val outB = s"$base/outB"
    roll.materializeAll(spark.read.parquet(factPath).drop("b"), Seq(outA, outB))
    assert(spark.read.parquet(outA).count() === spark.read.parquet(outB).count())
    assert(spark.read.parquet(outA).count() === full.size)
  }

  test("custom rollup (arbitrary computation) runs the same incremental dirty-bucket path") {
    import graft.sources.CustomRollup
    val cbase = s"$base/custom"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cbase), true)

    def ev(id: Long, day: String, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(s"$day 10:00:00"), 1L, typ, v)

    // not expressible as one groupBy/agg: per-day DISTINCT user count of
    // above-median-value events (a window + two aggregations)
    val custom = CustomRollup("busy_users_by_day", { fact =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(F.truncDay(col("ts")))
      fact
        .withColumn("day_avg", avg(col("value")).over(w))
        .filter(col("value") >= col("day_avg"))
        .groupBy(F.truncDay(col("ts")).as("rollup_time"))
        .agg(countDistinct(col("user_id")).as("busy_users"))
    })

    val batch = Seq(
      ev(1, "2024-01-03", "click", 1.0), ev(2, "2024-01-03", "click", 9.0),
      ev(3, "2024-02-04", "view", 5.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    batch.withColumn("b", monthBucket(col("ts")))
      .write.partitionBy("b").mode("append").parquet(s"$cbase/fact")
    Changelog.markDirty(batch, monthBucket(col("ts")), s"$cbase/cl")

    val fact = spark.read.parquet(s"$cbase/fact")
    val run = custom.materializeIncremental(fact, s"$cbase/roll", s"$cbase/cl", col("b"), monthBucket)
    assert(run.recomputed.toSet === Set("2024-01", "2024-02"))

    // a second batch touching only February rescans only February
    val batch2 = Seq(ev(4, "2024-02-05", "click", 2.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    batch2.withColumn("b", monthBucket(col("ts")))
      .write.partitionBy("b").mode("append").parquet(s"$cbase/fact")
    Changelog.markDirty(batch2, monthBucket(col("ts")), s"$cbase/cl")
    val run2 = custom.materializeIncremental(
      spark.read.parquet(s"$cbase/fact"), s"$cbase/roll", s"$cbase/cl", col("b"), monthBucket)
    assert(run2.recomputed === Seq("2024-02"))
    assert(run2.inputFiles.nonEmpty && run2.inputFiles.forall(_.contains("b=2024-02")))

    // incremental custom result == full custom recompute
    val full = custom(spark.read.parquet(s"$cbase/fact").drop("b"))
      .as[(java.sql.Timestamp, Long)].collect().toSet
    val incr = spark.read.parquet(s"$cbase/roll")
      .select(col("rollup_time"), col("busy_users"))
      .as[(java.sql.Timestamp, Long)].collect().toSet
    assert(incr === full)
  }
}
