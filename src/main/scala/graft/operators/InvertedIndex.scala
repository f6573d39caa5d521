package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.F

/**
 * Token inverted index + phrase search, re-expressing the reference's
 * ItemsInvertedIndex external link (yupana-schema/externallinks/
 * ItemsInvertedIndex.scala over yupana-core dao/InvertedIndexDao.scala):
 * yupana tokenizes item names into an HBase-backed index and resolves
 * "items containing this phrase" into dimension filters.
 *
 * graft builds the index as a (token, doc) table — materialize it with
 * TsLayout/parquet partitioned by token prefix for point lookups — and
 * phrase search is an IN-filter + count aggregation: a candidate doc
 * must match ALL phrase tokens, so the filter prunes the index scan to
 * |phrase| postings lists before anything shuffles.
 */
object InvertedIndex {

  /** (doc, token) postings from a text column, distinct per doc.
    * `stemmer` mirrors the reference, which indexes STEMMED tokens
    * (ItemsInvertedIndex uses the locale tokenizer's stemmedTokens) —
    * pass a [[graft.functions.expressions.Stemmers]] id; queries must
    * stem with the same id ([[phraseSearch]] does). */
  def build(docs: DataFrame, idCol: String, textCol: String, stemmer: String = "none"): DataFrame = {
    val toks = if (stemmer == "none") F.tokens(col(textCol)) else F.stemmedTokens(col(textCol), stemmer)
    docs.select(col(idCol).as("doc_id"), explode(array_distinct(toks)).as("token"))
  }

  /** Docs whose token set contains every word of the phrase (stemmed
    * with the same stemmer the index was built with). */
  def phraseSearch(index: DataFrame, phrase: String, stemmer: String = "none"): DataFrame = {
    // tokenize the phrase through the SAME kernel that built the index:
    // String.toLowerCase is default-locale-sensitive (tr_TR: "ITEM" →
    // "ıtem", matching nothing) and regex-split diverges from the
    // code-point tokenizer on special casings — query-side tokens must
    // be index-side tokens or phrases silently return zero docs
    val stem = graft.functions.expressions.Stemmers.forId(stemmer)
    val arr = graft.functions.expressions.Tokens.tokenize(
      org.apache.spark.unsafe.types.UTF8String.fromString(phrase), lowercase = true, stem, translit = false)
    val words = (0 until arr.numElements()).map(arr.getUTF8String(_).toString).distinct
    index
      .filter(col("token").isin(words.toSeq: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("matched"))
      .filter(col("matched") === words.length)
      .select(col("doc_id"))
  }
}
