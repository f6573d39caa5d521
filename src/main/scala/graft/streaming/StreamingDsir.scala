package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * DSIR quality screening over a document stream — the admission-time
 * twin of [[graft.operators.Dsir]]: each micro-batch is scored against
 * the persisted model ([[graft.operators.Dsir.fit]]) and a per-doc
 * report row (doc_id, doc_tokens, logw_q, logw, keep) is appended.
 * Stateless per batch — the model is a broadcastable ≤-buckets table,
 * so per-batch work is one narrow tokenize pass over the batch plus a
 * broadcast join, nothing corpus-sized (the
 * [[StreamingContamination]] shape). Replay-safe: each batch
 * overwrites its own `batch_id=…` partition, so a recovered query
 * rewrites the batch's rows instead of duplicating them.
 *
 * Each batch resolves the SERVABLE generation at score time (a 1-row
 * meta read + a ≤-buckets table load — noise next to the batch scan),
 * so a concurrent [[runUpdate]] refresh is picked up by the next
 * trigger without a restart, and the scorer can never pin a
 * generation that [[graft.operators.Dsir.update]]'s two-generation
 * retention has pruned. Consequence for replay: a batch replayed
 * AFTER a refresh committed rescores under the newer model — the
 * partition overwrite still guarantees no duplication, and the report
 * semantics are "scored with the model servable at processing time".
 */
object StreamingDsir {

  def run(
      spark: SparkSession,
      docs: DataFrame, // streaming: (doc_id long, text string)
      modelPath: String,
      reportPath: String,
      minLogw: Double,
      checkpoint: String
  ): StreamingQuery = {
    // fail fast if no servable model exists — but resolve the actual
    // generation PER BATCH below, so live runUpdate refreshes are
    // served without a restart and pruned generations are never pinned
    graft.operators.Dsir.readMeta(spark, modelPath)
    ForeachBatch.start(docs, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        graft.operators.Dsir
          .scoreWithModel(batch, "doc_id", "text", modelPath)
          .withColumn("keep", col("logw") >= lit(minLogw))
          .write.mode("overwrite").parquet(s"$reportPath/batch_id=$batchId")
      }
    }
  }

  /**
   * Streaming MODEL REFRESH — the other half of the DSIR lifecycle:
   * each micro-batch's bucket counts fold into the persisted model
   * through [[graft.operators.Dsir.update]], so the model tracks the
   * arriving corpus in O(batch) per trigger with the corpus never
   * re-scanned (counts are additive — after any prefix of batches the
   * stored model is EXACTLY the from-scratch fit on base ∪ prefix,
   * spec-pinned). Exactly-once without a transaction: the batchId is
   * the update's idempotency label, and structured streaming only ever
   * replays the last uncommitted batch — whose label the servable
   * generation already carries, making the replay a no-op. Readers
   * (scoreWithModel, a concurrent [[run]] scorer) serve the previous
   * generation until the new meta commits: refresh never pauses
   * serving, and update's two-generation retention gives an in-flight
   * reader a full refresh interval to finish its batch.
   */
  def runUpdate(
      docs: DataFrame, // streaming: (doc_id long, text string, + target evidence)
      isTarget: org.apache.spark.sql.Column,
      modelPath: String,
      checkpoint: String
  ): StreamingQuery =
    ForeachBatch.start(docs, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        graft.operators.Dsir.update(
          batch, "doc_id", "text", isTarget, modelPath, s"epoch=$batchId")
      }
    }
}
