package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sql.GraftFunctions
import graft.functions.F

/**
 * BPE (byte-pair-encoding) vocabulary induction — the tokenizer-
 * training step of an LLM data pipeline (Sennrich et al. 2016,
 * "Neural Machine Translation of Rare Words with Subword Units"),
 * re-expressed for corpus scale the way production tokenizer
 * trainers actually run:
 *
 *  - the CORPUS-SIZED work is exactly one distributed pass — the
 *    word-frequency count (map-side combined, the q_vocab_stats
 *    shape). BPE statistics are a function of the word-frequency
 *    table alone, so nothing else ever touches the corpus;
 *  - the merge loop runs on the frequency-truncated word table
 *    (top `maxWords` by count — the standard vocabulary cap; at any
 *    corpus size this is a bounded structure, the same contract as
 *    the IVF centroid and pack-bucket collects), with the classic
 *    incremental pair index: each merge re-examines ONLY the words
 *    that contain the merged pair, never the whole table;
 *  - encoding new text is a codegen'd native expression
 *    ([[graft.functions.expressions.BpeEncode]]) whose merge table
 *    rides as a reference object — tokenize → bpe_encode stays one
 *    whole-stage span, embarrassingly parallel at any corpus size.
 *
 * Determinism: ties in pair weight break on (left, right) ascending,
 * so the learned sequence is a pure function of the word-frequency
 * table; the spec pins the classic reference corpus and replays a
 * naive recount-per-round implementation against this one.
 */
object Bpe {

  /** One learned merge: `rank` is the 0-based learning order (the
    * encode priority), `weight` the pair's corpus frequency when it
    * was merged. */
  case class Merge(rank: Int, left: String, right: String, weight: Long)

  /** The one corpus-sized pass: word frequencies via the shared
    * letter/digit tokenizer, truncated to the `maxWords` most
    * frequent words (count desc, word asc — deterministic). */
  def wordCounts(docs: DataFrame, textCol: String, maxWords: Int): DataFrame =
    docs
      .select(explode(F.tokens(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxWords)

  /**
   * Learn up to `numMerges` merges from a corpus. Stops early when no
   * remaining pair reaches `minWeight` (a merge seen once is noise).
   *
   * The collect is `maxWords`-bounded BY CONSTRUCTION (a few MB at
   * the standard 64k-1M vocab caps) — the loop is driver-local
   * because 10k-100k sequential rank-argmax rounds are a
   * millisecond-scale in-memory workload, not a cluster one; the
   * corpus never leaves the executors.
   */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      maxWords: Int = 1 << 16,
      minWeight: Long = 2L,
      endMarker: String = "</w>"
  ): Seq[Merge] = {
    require(numMerges >= 0, "numMerges must be non-negative")
    val freq = wordCounts(docs, textCol, maxWords).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    learnLocal(freq, numMerges, minWeight, endMarker)
  }

  /** The merge loop over a word-frequency table (exposed for spec
    * parity against an independent naive implementation). */
  private[graft] def learnLocal(
      freq: Array[(String, Long)],
      numMerges: Int,
      minWeight: Long,
      endMarker: String
  ): Seq[Merge] = {
    import scala.collection.mutable
    // symbol sequences (code points + end marker) and their weights
    val words: Array[Array[String]] = freq.map { case (w, _) =>
      val cps = w.codePoints().toArray
      Array.tabulate(cps.length + 1)(i =>
        if (i < cps.length) new String(Character.toChars(cps(i))) else endMarker)
    }
    val weights: Array[Long] = freq.map(_._2)

    // incremental pair index: weight per pair + which words hold it
    val pairWeight = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // initial index
    for (wi <- words.indices) {
      val syms = words(wi)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        pairWeight(p) = pairWeight.getOrElse(p, 0L) + weights(wi)
        pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
        i += 1
      }
    }

    val out = mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // argmax: weight desc, then (left, right) asc — deterministic
      var best: (String, String) = null
      var bestW = 0L
      pairWeight.foreach { case (p, w) =>
        if (w > bestW || (w == bestW && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestW = w
        }
      }
      if (best == null || bestW < minWeight) exhausted = true
      else {
        out += Merge(rank, best._1, best._2, bestW)
        val affected = pairWords.getOrElse(best, mutable.Set.empty).toArray
        for (wi <- affected if holdsPair(words(wi), best)) {
          subtractWord(wi, words, weights, pairWeight, pairWords)
          words(wi) = mergePair(words(wi), best._1, best._2)
          addBackWord(wi, words, weights, pairWeight, pairWords)
        }
        pairWeight.remove(best)
        pairWords.remove(best)
        rank += 1
      }
    }
    out.toSeq
  }

  private def holdsPair(syms: Array[String], p: (String, String)): Boolean = {
    var i = 0
    while (i < syms.length - 1) {
      if (syms(i) == p._1 && syms(i + 1) == p._2) return true
      i += 1
    }
    false
  }

  private def subtractWord(
      wi: Int, words: Array[Array[String]], weights: Array[Long],
      pairWeight: scala.collection.mutable.HashMap[(String, String), Long],
      pairWords: scala.collection.mutable.HashMap[(String, String), scala.collection.mutable.Set[Int]]
  ): Unit = {
    val syms = words(wi)
    var i = 0
    while (i < syms.length - 1) {
      val p = (syms(i), syms(i + 1))
      val nw = pairWeight.getOrElse(p, 0L) - weights(wi)
      if (nw <= 0L) { pairWeight.remove(p); pairWords.remove(p) }
      else { pairWeight(p) = nw; pairWords.get(p).foreach(_.remove(wi)) }
      i += 1
    }
  }

  private def addBackWord(
      wi: Int, words: Array[Array[String]], weights: Array[Long],
      pairWeight: scala.collection.mutable.HashMap[(String, String), Long],
      pairWords: scala.collection.mutable.HashMap[(String, String), scala.collection.mutable.Set[Int]]
  ): Unit = {
    val syms = words(wi)
    var i = 0
    while (i < syms.length - 1) {
      val p = (syms(i), syms(i + 1))
      pairWeight(p) = pairWeight.getOrElse(p, 0L) + weights(wi)
      pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
      i += 1
    }
  }

  /** Left-to-right non-overlapping single-pass merge — the exact
    * discipline [[graft.functions.expressions.BpeEncode]] replays at
    * encode time. */
  private[graft] def mergePair(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Encode a word-token array column with a learned merge table —
    * the codegen'd expression path ([[graft.functions.expressions.BpeEncode]],
    * SQL: `graft_bpe_encode(tokens, merges_lit, end_marker)`). */
  def encode(tokens: Column, merges: Seq[Merge], endMarker: String = "</w>"): Column =
    GraftFunctions.call("graft_bpe_encode", tokens,
      lit(merges.sortBy(_.rank).map(m => m.left + " " + m.right).toArray), lit(endMarker))

  /** The vocabulary a merge table induces: every merged token (base
    * symbols — code points and the end marker — are implicit). */
  def vocab(merges: Seq[Merge]): Seq[String] = merges.sortBy(_.rank).map(m => m.left + m.right)

  /**
   * A merge table learned ONCE from the sf0.01 `documents` corpus
   * (tools/LearnBpe — the learner is deterministic, so this is
   * reproducible) and frozen as literals: the production tokenizer
   * discipline (a tokenizer is trained rarely and applied everywhere),
   * and what lets q_bpe_encode's DuckDB oracle replay the encode
   * EXACTLY — each merge applied in rank order as one left-to-right
   * non-overlapping string replace over a boundary-joined symbol
   * string. That sequential replay provably equals [[graft.functions.
   * expressions.BpeEncode]]'s greedy lowest-rank loop for any valid
   * learned sequence: when the greedy loop picks rank r, no lower rank
   * is present, one [[mergePair]] pass eliminates ALL occurrences of
   * r's pair, and every pair the merge creates contains r's output
   * symbol — which only merges with rank > r can reference (a learner
   * can only build later merges from earlier outputs). So ranks fire
   * in strictly increasing order, exactly the nested-replace order.
   */
  val frozenMerges: Seq[Merge] = Seq(
    Merge(0, "e", "r", 4568L),
    Merge(1, "e", "</w>", 4473L),
    Merge(2, "n", "</w>", 2834L),
    Merge(3, "er", "</w>", 2779L),
    Merge(4, "o", "w", 2747L),
    Merge(5, "ow", "</w>", 2747L),
    Merge(6, "o", "r", 2696L),
    Merge(7, "s", "t", 2676L),
    Merge(8, "h", "</w>", 1884L),
    Merge(9, "a", "t", 1845L),
    Merge(10, "l", "u", 1831L),
    Merge(11, "i", "n", 1796L),
    Merge(12, "a", "</w>", 1788L),
    Merge(13, "g", "</w>", 1777L),
    Merge(14, "y", "</w>", 1767L),
    Merge(15, "a", "r", 1758L)
  )
}
