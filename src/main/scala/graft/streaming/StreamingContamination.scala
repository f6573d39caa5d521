package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.F
import graft.operators.TextAnalysis

/**
 * Incremental benchmark-contamination screening over a document
 * stream: the production shape for checking NEW training data against
 * a fixed eval/benchmark set before it enters the corpus.
 *
 * Per micro-batch (foreachBatch, same idempotent-sink discipline as
 * [[StreamingDedup]]):
 *  1. distinct word n-grams of each batch doc (stateless narrow map);
 *  2. left-join against the eval gram set — benchmark-sized, so the
 *     join broadcasts and per-batch work is |batch grams|;
 *  3. append one (doc_id, n_grams, n_hit, contamination_frac) report
 *     row per doc to its batch_id=… partition (replay-safe overwrite).
 *
 * The eval set is static by definition (a benchmark); refreshing it is
 * a restart, which matches how eval suites version in practice.
 */
object StreamingContamination {

  /** Build the broadcastable eval gram set once from a static table. */
  def evalGramSet(evalDocs: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame =
    evalDocs
      .select(F.tokens(col(textCol)).as("tk"))
      .select(explode(TextAnalysis.wordNgrams(col("tk"), n)).as("gram"))
      .distinct()

  def run(
      spark: SparkSession,
      docs: DataFrame, // streaming: (doc_id long, text string)
      evalGrams: DataFrame, // static: (gram string), benchmark-sized
      reportPath: String,
      n: Int = 5,
      checkpoint: String
  ): StreamingQuery = {
    val hits = broadcast(evalGrams.withColumn("hit", lit(1)))
    ForeachBatch.start(docs, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        // explode_outer: a sub-n-token doc has an empty gram array and
        // a plain explode would drop its report row entirely — the doc
        // would enter the corpus unscreened (the boilerplate /
        // substring-dup operators guard the same way). Null-gram rows
        // count in no frequency: count(gram) skips nulls, and a null
        // gram never joins a hit.
        val report = batch
          .select(col("doc_id"), F.tokens(col("text")).as("tk"))
          .select(col("doc_id"), explode_outer(TextAnalysis.wordNgrams(col("tk"), n)).as("gram"))
          .join(hits, Seq("gram"), "left")
          .groupBy(col("doc_id"))
          .agg(count(col("gram")).as("n_grams"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("contamination_frac",
            when(col("n_grams") > 0, col("n_hit").cast("double") / col("n_grams").cast("double")))
        report.write.mode("overwrite").parquet(s"$reportPath/batch_id=$batchId")
      }
    }
  }
}
