package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.F

/**
 * Multinomial Naive Bayes document classifier over hashed-unigram
 * features — the domain/source tagger of a training-data pipeline
 * (label web documents with the corpus domain that best explains
 * them, the signal mixture weighting and per-domain capping consume;
 * the fastText-classifier role in CCNet-style pipelines, in closed
 * form). The reference engine has no classification surface; this
 * belongs to the training-data mandate, beside [[Dsir]] (whose
 * 2-class importance ratio is the K=2 special case of this score,
 * up to the prior).
 *
 * Model (add-1 smoothed, all integer evidence):
 *   score(d, k) = ln(d_k / D) + Σ_{t ∈ tokens(d)} ln((c_k(b(t)) + 1) / (n_k + B))
 * where b(·) is [[Dsir.bucket]]'s 24-bit md5 feature bucket, c_k(b)
 * the class's train-token count in the bucket, n_k its total train
 * tokens, d_k/D the doc-count prior. Prediction = argmax_k, ties by
 * label ascending.
 *
 * Cross-engine determinism (SURVEY.md §6): every leaf is
 * floor(1e6 · ln(q)) of ONE exactly-rounded IEEE division of exact
 * integers < 2^53 (the [[Dsir]] ratio discipline); per-(doc, class)
 * scores are exact BIGINT sums of tf · leaf, so the argmax — and the
 * DuckDB hash gate — is engine- and order-independent.
 *
 * Scale shape (100 TB): ONE tokenize of train and test each, both
 * aggregated map-side to narrow bucket rows before any exchange (text
 * never shuffles). The model is bounded — ≤ K·B class-bucket counts
 * plus a K-row class table — and broadcasts into the scoring join.
 * The ×K class expansion happens AFTER the per-(doc, bucket)
 * aggregate (bucket-level rows, never token-level), and the
 * per-(doc, class) sum combines map-side because the expansion
 * preserves the feature aggregate's doc-clustered layout. The argmax
 * is a single max(struct) aggregate — no per-doc window sort, and no
 * extra pass over the docs for prior-only rows: a zero-token test doc
 * rides through on a sentinel (bucket = −1, tf = 0) feature row, so
 * it scores by prior alone inside the same pipeline. Nothing
 * corpus-sized is ever broadcast, collected, or shuffled wider than
 * (doc, bucket, tf).
 */
object NaiveBayes {

  /**
   * Train on `isTrain` rows, classify the rest:
   * (doc_id, pred, score_q, score, n_tokens), one row per non-train
   * doc (zero-token docs classify by prior alone). Null labels and
   * null train flags are excluded from training (a pipeline's
   * unlabeled backfill must not become a phantom class).
   */
  def classify(
      docs: DataFrame, idCol: String, textCol: String, labelCol: String,
      isTrain: Column, buckets: Int = 4096): DataFrame = {
    Dsir.requireBuckets(buckets) // model is broadcast: K·B must stay bounded
    val spark = docs.sparkSession
    val base = docs.select(
      col(idCol).as("doc_id"), col(labelCol).as("label"),
      coalesce(isTrain, lit(false)).as("is_train"), col(textCol).as("text"))

    // class-bucket train counts: ≤ K·B rows — the broadcastable model
    val classCounts = base
      .filter(col("is_train") && col("label").isNotNull)
      .select(col("label"), explode(F.tokens(col("text"))).as("w"))
      .select(col("label"), Dsir.bucket(col("w"), buckets).as("bucket"))
      .groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("c"))

    // K-row class table: token totals, doc priors (quantized at the
    // leaf), and a per-label dense rank (label ascending) whose
    // NEGATION makes "ties by label ASC" expressible inside a MAX —
    // the single-aggregate argmax below needs an orderable key, and
    // strings don't negate
    val classDocs = base.filter(col("is_train") && col("label").isNotNull)
      .groupBy(col("label")).agg(count(lit(1)).as("dk"))
    val totalDocs = classDocs.agg(sum(col("dk")).as("d"))
    val classes = classDocs
      .join(classCounts.groupBy(col("label")).agg(sum(col("c")).as("nk")), Seq("label"), "left")
      .na.fill(0L, Seq("nk"))
      .crossJoin(broadcast(totalDocs))
      .select(col("label"), col("nk"),
        floor(log(col("dk").cast("double") / col("d").cast("double")) * lit(1000000.0))
          .cast("long").as("prior_q"))
    val classTable = F.rankBy(classes, "rank", col("label"))
      .select(col("label"), col("nk"), col("prior_q"), (-col("rank").cast("long")).as("neg_rank"))

    // test features: (doc, bucket, tf) — map-side combined, text never
    // shuffles. A doc whose tokenizer returns nothing (empty/null text)
    // contributes one sentinel row (bucket −1, tf 0): it matches no
    // model bucket and adds zero evidence, but keeps the doc in the
    // pipeline so it scores by prior alone — no second pass over the
    // corpus to re-attach prior-only docs
    val testFeat = base.filter(!col("is_train"))
      .select(col("doc_id"), coalesce(F.tokens(col("text")), array()).as("tk"))
      .select(col("doc_id"),
        explode(when(size(col("tk")) === 0, array(lit(null).cast("string")))
          .otherwise(col("tk"))).as("w"))
      .select(col("doc_id"),
        when(col("w").isNull, lit(-1L)).otherwise(Dsir.bucket(col("w"), buckets)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(when(col("bucket") === -1L, lit(0L)).otherwise(lit(1L))).as("tf"))

    // per-(doc, class) score: expand classes on BUCKET rows, left-join
    // the broadcast model (absent (class, bucket) → c = 0); prior_q and
    // neg_rank are class constants so they ride through the grouping.
    // tf = 0 sentinel rows multiply every leaf by zero — prior-only.
    val scored = testFeat
      .crossJoin(broadcast(classTable))
      .join(broadcast(classCounts), Seq("label", "bucket"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy(col("doc_id"), col("label"), col("prior_q"), col("neg_rank"))
      .agg(
        sum(col("tf") *
          floor(log((col("c") + lit(1L)).cast("double") /
            (col("nk") + lit(buckets.toLong)).cast("double")) * lit(1000000.0)).cast("long"))
          .as("tok_q"),
        sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"), col("label"), col("neg_rank"),
        (col("prior_q") + col("tok_q")).as("score_q"), col("n_tokens"))

    // argmax as ONE aggregate — no per-doc window sort: max(struct)
    // orders by score_q, then neg_rank (= label ascending); (score_q,
    // neg_rank) is unique per label within a doc, so the trailing
    // payload fields never influence the comparison
    scored
      .groupBy(col("doc_id"))
      .agg(max(struct(col("score_q"), col("neg_rank"), col("label"), col("n_tokens"))).as("best"))
      .select(col("doc_id"), col("best.label").as("pred"), col("best.score_q").as("score_q"),
        (col("best.score_q").cast("double") / lit(1000000.0)).as("score"),
        col("best.n_tokens").as("n_tokens"))
  }
}
