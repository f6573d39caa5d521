package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.F

/**
 * Corpus-level statistical operators over the token stream
 * (SURVEY.md §2.11, beyond the reference's surface): collocation
 * mining and a corpus-trained language-model quality filter — the
 * n-gram statistics layer of a training-data pipeline.
 *
 * Cross-engine determinism: scores stay in (+, ×, /) over exact
 * integers — IEEE-correctly-rounded on every engine — except the
 * logarithms of the LM surprisal, which ride the BM25 discipline:
 * ln is quantized to an exact BIGINT (floor(ln·10^6)) the moment it
 * is computed, all aggregation happens on exact integers, and the
 * single final division is IEEE-deterministic.
 */
object CorpusStats {

  /**
   * Collocations: adjacent token pairs ranked by lift — the log-free
   * monotone transform of PMI,
   *
   *   lift(x,y) = P(x,y)/(P(x)·P(y)) = c_xy · n / (c_x · c_y)
   *
   * (PMI = ln lift; ln is monotone, so ranking by lift IS ranking by
   * PMI while staying in IEEE mul/div — deterministic across engines,
   * where ln would not be). `minCount` drops hapax noise, the classic
   * collocation-mining guard.
   *
   * Denominator convention: the joint probability uses the TOKEN total
   * n, not the bigram total (n minus one per document, the textbook
   * P(x,y) normalizer). The two differ by a corpus-wide constant
   * factor, so every ranking and ratio between pairs is identical;
   * only the absolute lift values are inflated by ~n/(n - n_docs). The
   * oracle mirrors the same convention. If absolute lift is ever
   * surfaced as a calibrated statistic, derive the bigram total from
   * this same pairCounts aggregate (Σ of non-null-w2 counts) — no
   * extra scan needed.
   *
   * Scale shape: ONE tokenize pass. Every token position becomes a
   * (w1, w2) row — w2 NULL for the last token of a document — and the
   * per-(w1, w2) count aggregate is the single corpus-wide shuffle.
   * Unigram counts DERIVE from that table (every occurrence appears
   * exactly once as w1, so c_w = Σ_w2 c_(w, w2)): an aggregate over
   * the aggregate, and because both consumers hang off the same
   * (w1, w2) exchange, ReuseExchange computes the scan + tokenize
   * once — where separate bigram/unigram aggregates would shuffle on
   * different keys and re-scan. The unigram table is vocab-sized, NOT
   * assumed broadcastable — pairs join it by word key. The total-token
   * count rides as a 1-row broadcast. Final top-k is a global
   * TakeOrdered, never a full sort.
   */
  def collocations(
      df: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      topK: Int = 20
  ): DataFrame = {
    val pairCounts = df
      .select(F.tokens(col(textCol)).as("tk"))
      .select(posexplode(col("tk")).as(Seq("i", "w1")), col("tk"))
      .select(col("w1"),
        when(col("i") < size(col("tk")) - 1, element_at(col("tk"), col("i") + 2)).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    val pairs = pairCounts
      .filter(col("w2").isNotNull && col("c_xy") >= minCount)
    val uni = pairCounts
      .groupBy(col("w1")).agg(sum(col("c_xy")).as("c_w"))
      .select(col("w1").as("w"), col("c_w"))
    val total = uni.agg(coalesce(sum(col("c_w")), lit(0L)).as("n_tokens"))
    pairs
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_y")), "w2")
      .crossJoin(broadcast(total))
      // doubles BEFORE multiplying: the int64 products overflow at
      // corpus scale (c_xy·n at 10^12 tokens); double mul/div is
      // IEEE-correctly-rounded, so both engines agree bit-for-bit
      .withColumn("lift",
        (col("c_xy").cast("double") * col("n_tokens").cast("double")) /
          (col("c_x").cast("double") * col("c_y").cast("double")))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"), col("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** floor(ln(x)·10^6) as an exact BIGINT — the quantized-log
    * discipline BM25 scoring established (Retrieval.scala): quantize
    * at the leaf, aggregate exactly, divide once. */
  private def qlog(c: org.apache.spark.sql.Column) =
    floor(log(c.cast("double")) * lit(1000000.0)).cast("long")

  /**
   * Unigram language-model quality filter (the CCNet/Gopher
   * perplexity-gate shape, with the LM trained on the corpus itself):
   * per document, the mean add-one-smoothed unigram surprisal
   *
   *   nll(d) = (1/|d|) Σ_w  ln((n + V) / (c_w + 1))
   *
   * in quantized-log nats. High nll = tokens rare in the corpus =
   * off-distribution or noisy text; `keep` thresholds on it. A
   * production pipeline trains the LM on a held-out reference corpus
   * — pass one as `train` — and scores against it; scoring docs whose
   * tokens the LM has never seen works the same way (c_w = 0 rows
   * survive the left join, add-one smoothing prices them).
   *
   * Scale shape: ONE tokenize pass per corpus (train and score sides
   * each); per-(doc, token) counts combine map-side before the join
   * with the vocab-sized count table (shuffle on token keys — never a
   * vocab broadcast); (n, V) ride as a 1-row broadcast. Docs with no
   * tokens keep their row (left join from the corpus): nll null,
   * keep false.
   */
  def lmPerplexity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxNll: Double,
      train: Option[DataFrame] = None
  ): DataFrame = {
    val docTf = df
      .select(col(idCol), explode(F.tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    // self-train derives the vocab counts FROM the per-doc aggregate:
    // the (doc, token) exchange is reused, so the corpus tokenizes once
    val counts = train match {
      case Some(tr) => tr.select(explode(F.tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      case None => docTf.groupBy(col("w")).agg(sum(col("tf")).as("c_w"))
    }
    val stats = counts.agg(
      coalesce(sum(col("c_w")), lit(0L)).as("n_tokens"),
      count(lit(1)).as("vocab"))
    val scored = docTf
      .join(counts, Seq("w"), "left") // unseen tokens: c_w = 0 via coalesce
      .crossJoin(broadcast(stats))
      .withColumn("surprisal",
        qlog(col("n_tokens") + col("vocab")) - qlog(coalesce(col("c_w"), lit(0L)) + lit(1L)))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("doc_tokens"),
        sum(col("tf") * col("surprisal")).as("nll_q"))
      .withColumn("nll",
        col("nll_q").cast("double") / (col("doc_tokens") * lit(1000000L)).cast("double"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("doc_tokens"), lit(0L)).as("doc_tokens"),
        col("nll"),
        coalesce(col("nll") <= lit(maxNll), lit(false)).as("keep"))
  }

  /**
   * Interpolated Kneser–Ney BIGRAM language-model quality filter (Kneser
   * & Ney 1995; Chen & Goodman 1999 eq. interpolated form), the standard
   * upgrade over [[lmPerplexity]]'s unigram gate: per document, the mean
   * surprisal of its bigram events under
   *
   *   P(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/N1+(··)
   *
   * self-trained on the corpus, discount D = 3/4. At D = 3/4 the whole
   * probability is ONE ratio of exact integers,
   *
   *   P = [max(4·c12 − 3, 0)·Nbig + 3·N1p(w1)·Nc(w2)] / (4·c1·Nbig),
   *
   * so each event's surprisal is qlog(denominator) − qlog(numerator) —
   * two quantized-ln leaves over exact BIGINTs (the BM25 discipline),
   * summed exactly per doc, one final IEEE division. Self-training
   * means every scored bigram is in the model (c12 ≥ 1), so the max(·)
   * never clips and no unseen-context backoff is needed; a held-out-
   * trained variant would additionally need an unseen-w1 floor, which
   * is a modeling choice this filter deliberately avoids.
   *
   * Scale shape: ONE tokenize pass — every in-doc adjacent pair becomes
   * a row of the per-(doc, w1, w2) aggregate (map-side combined), and
   * ALL FOUR model tables derive from that one table: c12 by (w1, w2),
   * the context table (c1, N1p) by w1, the continuation table (Nc) by
   * w2, Nbig as its 1-row count (broadcast). Scoring joins by word
   * keys — the vocab-sized tables are never broadcast. Docs with < 2
   * tokens keep their row (left join): nll null, keep false.
   * Quantization leaves stay exact while 4·c1·Nbig < 2^53 (~10^9
   * context count × 10^6 bigram types); past that, compute the ln
   * argument ratio in DECIMAL(38) before the single ln.
   */
  def knBigramPerplexity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxNll: Double
  ): DataFrame = {
    val docTf = df
      .select(col(idCol), F.tokens(col(textCol)).as("tk"))
      .select(col(idCol), explode(expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)), (x, i) -> struct(x AS w1, element_at(tk, i + 2) AS w2))"))
        .as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val c12 = docTf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c12"))
    val ctx = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val nbig = c12.agg(count(lit(1)).as("nbig"))
    val scored = docTf
      .join(c12, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(nbig))
      .withColumn("s_q",
        qlog(lit(4L) * col("c1") * col("nbig")) -
          qlog((lit(4L) * col("c12") - lit(3L)) * col("nbig") +
            lit(3L) * col("n1p") * col("nc")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("tf") * col("s_q")).as("nll_q"))
      .withColumn("nll",
        col("nll_q").cast("double") / (col("n_bigrams") * lit(1000000L)).cast("double"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("nll"),
        coalesce(col("nll") <= lit(maxNll), lit(false)).as("keep"))
  }
}
