package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TsLayout

/**
 * Online ingest + streaming aggregation — the reference's
 * yupana-spark/ETLFunctions.scala (DStream[DataPoint] →
 * processTransactions → HBase puts) re-expressed as Structured
 * Streaming: readStream → event-time watermark → windowed agg /
 * layout append.
 *
 * A DataPoint (yupana-api/query/DataPoint.scala) is (table, time,
 * dimension values, metric values); graft flattens it to a row of the
 * destination table and appends into the time-bucketed TsLayout, which
 * keeps late data in its correct bucket (the reference achieves this
 * with HBase row keys; here the partition column does it).
 */
object Ingest {

  /** Generic data point: target table + time + tag/metric maps. */
  case class DataPoint(
      table: String,
      time: java.sql.Timestamp,
      dims: Map[String, String],
      metrics: Map[String, Double]
  )

  /** Flatten data points addressed to the events table into its row shape. */
  def eventsFromDataPoints(spark: SparkSession, points: Seq[DataPoint]): DataFrame = {
    import spark.implicits._
    points
      .filter(_.table == "events")
      .map(p =>
        (
          // identity comes from DIMS (exact strings), not the Double
          // metric map: a long id above 2^53 loses low bits through a
          // double and two distinct upstream events silently collide on
          // the key that dedupStream/Upsert key on (metric fallback
          // kept for old callers, with the documented precision caveat)
          // malformed/non-numeric dim strings fall through to the
          // metric fallback instead of crashing the ingest batch
          p.dims.get("event_id").flatMap(s => scala.util.Try(s.toLong).toOption)
            .getOrElse(p.metrics.getOrElse("event_id", 0.0).toLong),
          p.time,
          p.dims.get("user_id").flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L),
          p.dims.getOrElse("event_type", ""),
          p.metrics.getOrElse("value", 0.0)
        )
      )
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  /**
   * Streaming exact dedup: drop re-delivered rows by key within the
   * watermark horizon (`dropDuplicatesWithinWatermark` keeps state
   * bounded — the streaming counterpart of Dedup.exact, and the
   * idempotency guard the reference's online ingest needs for at-least-
   * once delivery). Near-dup sketches (minhash/simhash signatures) are
   * stateless narrow maps, so they run unchanged on a stream.
   */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keyCols)

  /**
   * Streaming ingest into the time-bucketed layout WITH rollup-changelog
   * bookkeeping — the reference's full online flow (yupana-spark
   * ETLFunctions.processTransactions writes points AND records the
   * invalidated periods via ChangelogDao), so incremental rollups
   * recompute exactly the periods this stream touched.
   *
   * Idempotent under micro-batch replay: each batch writes
   * (ts_bucket, batch_id)-keyed partitions with dynamic overwrite, so a
   * replayed batch replaces its own files instead of duplicating rows.
   * Re-marking a bucket dirty on replay is harmless (the rollup
   * recomputes dirty buckets from the full layout state).
   * Readers use [[graft.sources.TsLayout.read]]-style access ignoring
   * the bookkeeping columns; a layout this stream started carries the
   * TsLayout marker, so time filters prune its buckets.
   */
  def streamToLayout(
      events: DataFrame,
      table: graft.schema.GTable,
      path: String,
      changelogDir: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    ForeachBatch.start(events, checkpoint) { (batch, batchId) =>
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      // only a layout this stream started may be marked for pruning
      val wasEmpty = !fs.exists(root) ||
        fs.listStatus(root).forall(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      val bucketed = batch
        .withColumn(TsLayout.BucketColumn, TsLayout.bucketExpr(table))
        .withColumn("batch_id", lit(batchId))
      bucketed
        .repartition(col(TsLayout.BucketColumn))
        .sortWithinPartitions(table.dimensionNames.map(col): _*)
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(TsLayout.BucketColumn, "batch_id")
        .parquet(path)
      TsLayout.markAppend(batch.sparkSession, path, table.timeColumn, wasEmpty)
      graft.sources.Changelog.markDirty(
        batch, TsLayout.bucketExpr(table), changelogDir)
    }

  /**
   * The standing streaming aggregation: tumbling event-time windows per
   * event_type with a watermark for late data. Works identically on a
   * batch frame (for oracle checks) and a streaming frame (readStream),
   * which is how the spec verifies parity.
   */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value")
      )
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))
  }
}
