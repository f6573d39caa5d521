package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sql.GraftFunctions

/**
 * graft function surface: the reference's SQL function registry
 * (yupana-core/src/main/scala/org/yupana/core/sql/FunctionRegistry.scala)
 * re-expressed as compositions of `org.apache.spark.sql.functions` —
 * every function here stays inside whole-stage codegen (no UDFs), so
 * the hot path is Tungsten-compiled on a cluster.
 *
 * Families:
 *  - time trunc/extract (reference Expression.scala:337-410)
 *  - string/array ops: tokens, split, contains_* (Expression.scala:297-335,514-530)
 *  - currency: fixed 2-decimal arithmetic (yupana-api Currency.scala)
 *  - hashing/sketching for the pipeline operators: LSH band keys,
 *    hamming, cosine, n-grams, jaccard (beyond the reference)
 *
 * The tokenizer helpers build graft's native expressions straight from
 * the builder table ([[graft.sql.GraftFunctions.call]]), so they work
 * on any session; only SQL text needs the graft names registered.
 */
object F {

  // ---- time functions ------------------------------------------------

  def truncYear(c: Column): Column = date_trunc("year", c)
  def truncQuarter(c: Column): Column = date_trunc("quarter", c)
  def truncMonth(c: Column): Column = date_trunc("month", c)
  /** ISO week, Monday start — matches reference TruncWeekExpr (Joda weekOfWeekyear). */
  def truncWeek(c: Column): Column = date_trunc("week", c)
  def truncDay(c: Column): Column = date_trunc("day", c)
  def truncHour(c: Column): Column = date_trunc("hour", c)
  def truncMinute(c: Column): Column = date_trunc("minute", c)
  def truncSecond(c: Column): Column = date_trunc("second", c)

  def extractYear(c: Column): Column = year(c)
  /** ISO week-of-year — reference registry `week` (FunctionRegistry unary time ops). */
  def extractWeek(c: Column): Column = weekofyear(c)
  def extractQuarter(c: Column): Column = quarter(c)
  def extractMonth(c: Column): Column = month(c)
  def extractDay(c: Column): Column = dayofmonth(c)
  def extractHour(c: Column): Column = hour(c)
  def extractMinute(c: Column): Column = minute(c)
  def extractSecond(c: Column): Column = second(c)

  // ---- string / array functions --------------------------------------

  /**
   * Reference `tokens` (yupana-utils TokenizerBase.stemmedTokens):
   * lowercase, keep letter/digit runs, drop empties. Stemming is
   * locale-specific in the reference (RussianLightStemmer); graft keeps
   * the language-neutral normalization (identity stem).
   */
  def tokens(c: Column): Column = GraftFunctions.call("graft_tokens", c)

  /** Reference stemmedTokens: tokens with the locale's registered stemmer
    * applied per token (TokenizerBase.stemmedTokens; 'en' = Harman
    * S-stemmer English light stem). */
  def stemmedTokens(c: Column, locale: String = "en"): Column =
    GraftFunctions.call("graft_stemmed_tokens", c, lit(locale))

  /** Reference RussianTransliterator.transliterate (yupana-utils). */
  def translit(c: Column): Column = GraftFunctions.call("graft_translit", c)

  /** Reference TokenizerBase.transliteratedTokens: tokenize → stem →
    * transliterate → drop emptied tokens (the ItemDimension.hash chain). */
  def transliteratedTokens(c: Column, locale: String = "en"): Column =
    GraftFunctions.call("graft_transliterated_tokens", c, lit(locale))

  /** Reference SplitExpr (Expression.scala:322): split on non-letter/digit, no lowercasing. */
  def splitWords(c: Column): Column = GraftFunctions.call("graft_split_words", c)

  def arrayToString[T](c: Column): Column = array_join(c, ", ")

  /** contains_all(a, b): every element of b occurs in a. */
  def containsAll(a: Column, b: Column): Column = size(array_except(b, a)) === 0
  /** contains_any(a, b): some element of b occurs in a. */
  def containsAny(a: Column, b: Column): Column = arrays_overlap(a, b)
  /** contains_same(a, b): same element sets (reference ContainsSameExpr). */
  def containsSame(a: Column, b: Column): Column =
    size(array_except(a, b)) === 0 && size(array_except(b, a)) === 0

  // ---- currency (reference yupana-api Currency.scala: Long sub-units, 2 dp)

  /** Fixed-point 2-decimal money value, exact arithmetic (no double drift). */
  def toCurrency(c: Column): Column = c.cast("decimal(18,2)")

  // ---- sketches / hashing (pipeline operators) ------------------------

  /**
   * LSH band keys for a minhash signature: split k minima into `bands`
   * rows-per-band groups, hash each band. Near-dup candidates = rows
   * sharing any band key → candidate generation is an equi-join on
   * (band_idx, band_hash), never an O(n^2) cross join.
   */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(concat_ws("_", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))), b).as("bh"))
    )

  /**
   * Sign-LSH band keys over 64 packed sign bits: band b keys on the
   * `rowsPerBand` bits from offset b * rowsPerBand, in the same
   * (band, bh) shape as [[lshBandKeys]]. Java shifts are mod 64, so one
   * 64-bit band (near-1 thresholds) masks with -1L: (1L << 64) - 1 is 0,
   * which would key every row to bh = 0 and make the band join all-pairs.
   */
  def signBandKeys(bits: Column, bands: Int, rowsPerBand: Int): Column = {
    val mask = if (rowsPerBand >= 64) -1L else (1L << rowsPerBand) - 1L
    transform(sequence(lit(0), lit(bands - 1)), b => struct(b.as("band"),
      call_function("shiftrightunsigned", bits, b * rowsPerBand).bitwiseAND(lit(mask)).as("bh")))
  }

  /**
   * `df` plus a 1-based int `rankCol` in ascending `keys` order (negate
   * a numeric key to rank it descending): row_number() over a global
   * window, without the window's move of every row to one partition
   * under a warning. The rows fold into one sorted array that
   * posexplode unrolls, so `df` must already be bounded to a few rows
   * (a limit, one row per label).
   */
  def rankBy(df: DataFrame, rankCol: String, keys: Column*): DataFrame = {
    val sortKeys = keys.zipWithIndex.map { case (k, i) => k.as(s"k$i") }
    val row = struct(sortKeys :+ struct(df.columns.map(df(_)): _*).as("row"): _*)
    df.agg(sort_array(collect_list(row)).as("rows"))
      .select(posexplode(col("rows")).as(Seq("pos", "r")))
      .select(col("r.row.*"), (col("pos") + 1).as(rankCol))
  }

  /** Estimated Jaccard of two `numHashes`-long minhash signatures: the
    * fraction of positions whose minima are equal. */
  def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
      .cast("double") / lit(numHashes.toDouble)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Dot product of two numeric arrays (index-ordered summation). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two numeric arrays. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Character n-grams of a string (for n-gram Jaccard). */
  def charNgrams(c: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(length(c) - (n - 1), lit(1))), i => c.substr(i, lit(n)))
    )

  /** Jaccard similarity of two arrays treated as sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(array_union(a, b)).cast("double"))
  }
}
