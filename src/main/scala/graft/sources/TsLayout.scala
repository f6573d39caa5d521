package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}
import graft.schema.GTable

/**
 * Time-partitioned table layout — the storage side of the reference's
 * HBase row-key design (yupana-api Table.rowTimeSpan: rows are keyed by
 * (baseTime bucket, dims, restTime), so a time-range scan touches only
 * the buckets in range; see yupana-hbase HBaseUtils key layout).
 *
 * On Spark the same property comes from directory partitioning: data is
 * written under `ts_bucket=YYYY-MM/` (the month of the time column in
 * the writing session's time zone). Within each partition files are
 * sorted by the dimension sequence so min/max row-group stats prune
 * dimension filters too (the reference's dimension-prefix scan ranges).
 *
 * How a time filter prunes: a predicate on the time column does not
 * mention `ts_bucket`, so Spark alone would list every bucket. Each
 * write therefore leaves a hidden marker at the layout root
 * ([[MarkerName]]) recording the time column and the write's time
 * zone, and [[TsBucketPruning]] — an optimizer rule, injected by
 * `graft.sql.GraftExtensions` and installed by [[read]] — turns the
 * time column's range conjuncts (`<`, `<=`, `>`, `>=`, `=` against a
 * literal) into `ts_bucket` bounds, computed in the marker's zone, on
 * relations whose every root carries the marker. The bounds are implied
 * by the conjuncts they came from, so the scan's partition filters read
 * only the months in the window and the rows are unchanged. Layouts
 * without the marker are read as before.
 *
 * At 100 TB / 1000 executors this is the difference between a full scan
 * and touching only the queried months; `maxRecordsPerFile` plus
 * `sortWithinPartitions` keeps files row-group-pruned and right-sized.
 */
object TsLayout {

  /** Partition column holding the `yyyy-MM` bucket. */
  val BucketColumn = "ts_bucket"

  /** Hidden (underscore-prefixed, so never listed as data) marker file
    * at the layout root: `timeColumn=<col>` and `timeZone=<zone>`. */
  val MarkerName = "_graft_ts_layout"

  private[graft] def bucketExpr(table: GTable) = date_format(col(table.timeColumn), "yyyy-MM")

  /** Write a fact table into the time-bucketed layout. */
  def write(df: DataFrame, table: GTable, path: String): Unit = {
    val bucketed = df.withColumn(BucketColumn, bucketExpr(table))
    bucketed
      .repartition(col(BucketColumn))
      .sortWithinPartitions(table.dimensionNames.map(col): _*)
      .write
      .mode("overwrite")
      .partitionBy(BucketColumn)
      .parquet(path)
    writeMarker(df.sparkSession, path, table.timeColumn)
  }

  /** Read the layout back; time filters on the time column prune
    * `ts_bucket` partitions (installs [[TsBucketPruning]] on `spark`). */
  def read(spark: SparkSession, path: String): DataFrame = {
    installPruning(spark)
    spark.read.parquet(path).drop(BucketColumn)
  }

  /** Install [[TsBucketPruning]] on a session built without
    * GraftExtensions (idempotent). */
  private def installPruning(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[TsBucketPruning]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TsBucketPruning(spark)

  private[sources] final case class Marker(timeColumn: String, timeZone: String)

  private def markerPath(root: String) = new Path(root, MarkerName)

  private def writeMarker(spark: SparkSession, root: String, timeColumn: String): Unit = {
    val p = markerPath(root)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(
      s"timeColumn=$timeColumn\ntimeZone=${spark.sessionState.conf.sessionLocalTimeZone}\n"
        .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private[sources] def readMarker(spark: SparkSession, root: String): Option[Marker] = {
    val p = markerPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(p)
      val kv = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      val m = kv.linesIterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      for (c <- m.get("timeColumn"); z <- m.get("timeZone")) yield Marker(c, z)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Keep an appended-to layout's marker truthful: a layout that was
    * empty before this append gets one, and a marker naming another
    * time column or zone is removed (the layout then reads unpruned). A
    * layout that already held data without a marker stays unmarked. */
  private[graft] def markAppend(spark: SparkSession, root: String, timeColumn: String, wasEmpty: Boolean): Unit =
    readMarker(spark, root) match {
      case None => if (wasEmpty) writeMarker(spark, root, timeColumn)
      case Some(m) if m == Marker(timeColumn, spark.sessionState.conf.sessionLocalTimeZone) => ()
      case Some(_) =>
        val p = markerPath(root)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
        ()
    }

  /**
   * Bucketed variant for fact tables that join each other (e.g.
   * orders ⋈ lineitem on the order key): both sides bucketed and
   * sorted by the join key into the same bucket count join WITHOUT a
   * shuffle — at 100 TB that's the difference between moving both
   * fact tables across the network per query and a local merge join.
   * Bucketing requires the table catalog (saveAsTable).
   */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String, numBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(tableName)
}

/** A `ts_bucket` bound derived by [[TsBucketPruning]]: evaluates as its
  * child, and marks the conjunct as implied by the time conjuncts it
  * came from, so a rewrite that carries those over may drop it. */
final case class TsBucketBound(child: Expression) extends TaggingExpression {
  override protected def withNewChildInternal(newChild: Expression): TsBucketBound = copy(child = newChild)
}

/** Derives `ts_bucket` bounds from time-column range conjuncts on marked
  * [[TsLayout]] relations (see the TsLayout doc). */
final case class TsBucketPruning(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, l: LogicalRelation)
        if !cond.exists(_.isInstanceOf[TsBucketBound]) && hasBucket(l) =>
      bounds(cond, l).map(b => Filter(b.foldLeft(cond)(And), l)).getOrElse(f)
  }

  private def hasBucket(l: LogicalRelation): Boolean = l.relation match {
    case fs: HadoopFsRelation =>
      fs.partitionSchema.exists(f => f.name == TsLayout.BucketColumn && f.dataType == StringType)
    case _ => false
  }

  private val DayMicros = 86400L * 1000000L

  private def bounds(cond: Expression, l: LogicalRelation): Option[Seq[Expression]] = {
    val roots = l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString)
    val markers = roots.map(TsLayout.readMarker(spark, _)).distinct
    for {
      marker <- markers match { case Seq(Some(m)) => Some(m); case _ => None }
      ts <- l.output.find(_.name == marker.timeColumn)
      bucket <- l.output.find(_.name == TsLayout.BucketColumn)
      zone <- ts.dataType match {
        case TimestampType => Some(java.time.ZoneId.of(marker.timeZone))
        case TimestampNTZType => Some(java.time.ZoneOffset.UTC) // NTZ months ignore the zone
        case _ => None
      }
      out <- {
        // [lo, hi] in micros over every usable conjunct
        var lo = Long.MinValue
        var hi = Long.MaxValue
        def isTs(e: Expression) = e.semanticEquals(ts)
        def lit(e: Expression): Option[Long] = e match {
          case Literal(v: Long, t) if t == ts.dataType => Some(v)
          case _ => None
        }
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(a, b) => conjuncts(a) ++ conjuncts(b)
          case other => Seq(other)
        }
        conjuncts(cond).foreach {
          case GreaterThanOrEqual(a, b) if isTs(a) => lit(b).foreach(v => lo = lo max v)
          case GreaterThan(a, b) if isTs(a) => lit(b).foreach(v => lo = lo max (v + 1))
          case LessThanOrEqual(a, b) if isTs(a) => lit(b).foreach(v => hi = hi min v)
          case LessThan(a, b) if isTs(a) => lit(b).foreach(v => hi = hi min (v - 1))
          case LessThanOrEqual(b, a) if isTs(a) => lit(b).foreach(v => lo = lo max v)
          case LessThan(b, a) if isTs(a) => lit(b).foreach(v => lo = lo max (v + 1))
          case GreaterThanOrEqual(b, a) if isTs(a) => lit(b).foreach(v => hi = hi min v)
          case GreaterThan(b, a) if isTs(a) => lit(b).foreach(v => hi = hi min (v - 1))
          case EqualTo(a, b) if isTs(a) => lit(b).foreach { v => lo = lo max v; hi = hi min v }
          case EqualTo(b, a) if isTs(a) => lit(b).foreach { v => lo = lo max v; hi = hi min v }
          case _ => ()
        }
        // a zone whose offset changes can move local time backwards
        // across a bucket edge: widen by two days there (more than any
        // recorded offset change), exact for fixed-offset zones
        val slack = if (zone.getRules.isFixedOffset) 0L else 2L * DayMicros
        val lower = Option(lo).filter(_ != Long.MinValue).flatMap(v => monthOf(v - slack, zone))
          .map(m => TsBucketBound(GreaterThanOrEqual(bucket, Literal(m))))
        val upper = Option(hi).filter(_ != Long.MaxValue).flatMap(v => monthOf(v + slack, zone))
          .map(m => TsBucketBound(LessThanOrEqual(bucket, Literal(m))))
        Option(lower.toSeq ++ upper.toSeq).filter(_.nonEmpty)
      }
    } yield out
  }

  /** The `yyyy-MM` bucket of an instant, as `date_format` writes it;
    * None outside years 0–9999, where the strings stop sorting as
    * months do. */
  private def monthOf(micros: Long, zone: java.time.ZoneId): Option[String] = {
    val d = java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS).atZone(zone)
    if (d.getYear < 0 || d.getYear > 9999) None else Some(f"${d.getYear}%04d-${d.getMonthValue}%02d")
  }
}
