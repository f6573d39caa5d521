package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one query start of graft's foreachBatch sinks: append output, a
  * `ProcessingTime(0)` trigger (Spark's defaults, spelled out) and a
  * checkpoint, running `onBatch` on every micro-batch of `input`. The
  * sink body owns replay safety (each writes under its batch id). */
private[graft] object ForeachBatch {
  def start(input: DataFrame, checkpoint: String)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => onBatch(batch, batchId) }
      .start()
}
