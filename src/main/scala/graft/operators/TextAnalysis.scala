package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sql.GraftFunctions
import graft.functions.F

/**
 * Text-analysis operators for corpus curation (SURVEY.md §2.11).
 * All pure column algebra — whole-stage-codegen'd, no UDFs, so each is
 * a single narrow pass over the corpus (no shuffle at any scale).
 */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "que", "una", "y"),
    "zh" -> Seq("的", "了", "是", "我", "不")
  )

  private def padded(textCol: Column): Column = concat(lit(" "), lower(textCol), lit(" "))

  /** Distinct word n-grams of a token-array column as space-joined
    * strings (contamination check, batch and streaming). Pass a BOUND
    * attribute (select the token array first), not a computed
    * expression — `tk` is referenced n times per gram and a computed
    * expression would be re-evaluated each time. */
  def wordNgrams(tk: Column, n: Int): Column =
    array_distinct(
      transform(
        slice(tk, lit(1), greatest(size(tk) - (n - 1), lit(0))),
        (x, i) => concat_ws(" ", (x +: (2 to n).map(j => element_at(tk, i + lit(j)))): _*)))

  /**
   * Corpus-internal boilerplate signal (C4/CCNet-shaped): a word n-gram
   * shared by >= minDf documents of the same group (site, source,
   * domain) is boilerplate — navigation text, headers, license footers
   * — and per document we report the fraction of its distinct grams
   * that are boilerplate, the signal a cleaning pipeline thresholds on.
   *
   * Scale shape: the corpus is tokenized and the gram table shuffled
   * exactly ONCE — per-(group, gram) doc frequency comes from a
   * whole-partition count window over the single (group, gram)
   * shuffle, not from an aggregate-then-join-back (which would
   * tokenize and shuffle the corpus twice: the aggregated side and the
   * probe side don't canonicalize equal, so Spark cannot reuse the
   * exchange). The per-doc rollup then combines map-side. No broadcast
   * assumption: unlike the contamination check the boilerplate set is
   * not bounded a priori.
   */
  def boilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      n: Int = 5,
      minDf: Long = 2
  ): DataFrame = {
    // explode_outer: a document with fewer than n tokens has an EMPTY
    // gram array, and a plain explode would drop it from the output
    // entirely — a caller joining decisions back to the corpus would
    // silently lose those docs. They surface as (n_grams=0, n_boiler=0,
    // boiler_frac=null); their null-gram rows are excluded from every
    // count (count(gram) skips nulls) so they cannot pollute the
    // per-(group, gram) frequencies.
    val grams = df
      .select(col(idCol), col(groupCol), F.tokens(col(textCol)).as("tk"))
      .select(col(idCol), col(groupCol), explode_outer(wordNgrams(col("tk"), n)).as("gram"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol), col("gram"))
    grams
      .withColumn("df", count(col("gram")).over(w))
      .groupBy(col(idCol))
      .agg(
        count(col("gram")).as("n_grams"),
        sum(when(col("gram").isNotNull && col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        when(col("n_grams") > 0, col("n_boiler").cast("double") / col("n_grams").cast("double")))
  }

  /**
   * Benchmark-contamination screening with a Bloom-filter prefilter —
   * the 100 TB shape of the n-gram overlap check. The exact check
   * joins every corpus gram against the benchmark gram set; even with
   * the benchmark side broadcast, every corpus gram pays the probe and
   * a non-broadcastable benchmark (hundreds of millions of grams ≈
   * tens of GB of strings) forces a corpus-sized shuffle. Here the
   * benchmark grams are folded into a Bloom filter (~1.2 bytes/gram at
   * fpp 1e-2 — broadcastable far past the exact set's limit), the
   * corpus grams are screened MAP-SIDE by a codegen'd
   * `might_contain` (Spark's own `BloomFilterMightContain`, the
   * runtime-filter expression), and only the surviving ~fpp fraction
   * shuffles into the exact verify join. False positives are removed
   * by the verify, false negatives are impossible (Bloom guarantee),
   * so the output is IDENTICAL to the exact check — the gated query
   * shares q_contamination's brute-force oracle.
   *
   * Output per corpus doc with ≥ 1 gram: distinct-gram count, hit
   * count, contamination fraction — [[wordNgrams]] semantics
   * (distinct grams per doc), result-identical to q_contamination
   * (including duplicate-id inputs: both sides aggregate by id).
   *
   * Scale notes: the per-doc denominator is a map-side-combined
   * aggregate over the gram rows (its exchange carries ONE row per
   * doc, not the grams); the benchmark side is cached (benchmark-
   * sized) across the two eager passes — filter sizing and filter
   * build — then released, so the verify join recomputes that small
   * branch once per materialization; the verify join is
   * hash-partitioned on the gram, and its input is |corpus grams| ×
   * (true-hit rate + fpp). The hit table that joins back to the
   * per-doc frame holds only contaminated docs — AQE broadcasts it.
   * Both corpus branches keep the gram pipeline INSIDE the Generate
   * (explode of the wordNgrams expression, never an aliased array
   * column): CollapseProject inlines a projected alias into every one
   * of the lambda's per-gram token references, which measured 13×
   * slower than the Generate shape on the sf0.1 corpus.
   */
  def contaminationScreenBloom(
      corpus: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      fpp: Double = 0.01
  ): DataFrame = {
    val evalGrams = evalDocs
      .select(F.tokens(col(textCol)).as("tk"))
      .select(explode(wordNgrams(col("tk"), n)).as("gram"))
      .distinct()
      .cache()
    // size the filter from the benchmark side (the small side — one
    // count over the cached benchmark grams, never the corpus); floor
    // of 1 keeps an empty benchmark from failing the sketch constructor
    val expected = math.max(evalGrams.count(), 1L)
    val bloom = graft.core.BloomSidecar.build(evalGrams.select(xxhash64(col("gram"))), expected, fpp)
    val ser = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // The cache exists for the two EAGER passes above (sizing count +
    // filter build). Release it here so long-lived sessions don't
    // accumulate storage; the lazy verify join below recomputes the
    // benchmark-sized branch once per materialization of the result.
    evalGrams.unpersist(blocking = false)
    val grams = corpus
      .select(col(idCol), F.tokens(col(textCol)).as("tk"))
      .select(col(idCol), explode(wordNgrams(col("tk"), n)).as("gram"))
    val perDoc = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val hits = grams
      .filter(GraftFunctions.call("graft_might_contain", lit(ser), xxhash64(col("gram"))))
      // exact verify: removes Bloom false positives; hash join on the
      // gram — its input is the screened survivors, not the corpus
      .join(evalGrams.hint("shuffle_hash"), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"))
    perDoc
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contamination_frac",
        col("n_hit").cast("double") / col("n_grams").cast("double"))
  }

  /** POSITIONAL word n-grams (no dedup): one entry per token position —
    * the substring-duplication operator needs every occurrence, not the
    * distinct set. */
  def positionalNgrams(tk: Column, n: Int): Column =
    transform(
      slice(tk, lit(1), greatest(size(tk) - (n - 1), lit(0))),
      (x, i) => concat_ws(" ", (x +: (2 to n).map(j => element_at(tk, i + lit(j)))): _*))

  /**
   * Exact-substring duplication signal (the "Deduplicating Training
   * Data Makes Language Models Better" construction, Lee et al. 2022,
   * at fixed span length instead of a suffix array): a token position
   * is DUPLICATED when its k-token span occurs anywhere else in the
   * corpus (another document or another position of the same one) —
   * memorization-prone boilerplate that survives document-level dedup
   * because the containing documents differ. Output per document:
   * span-position count, duplicated-position count, duplicated
   * fraction (null when the doc has < k tokens — explode_outer keeps
   * the row).
   *
   * Scale shape: the span posting table ships (id, 128-bit fingerprint)
   * — 24-byte fixed-width rows, never the span TEXT (a k=20 span is
   * ~100+ bytes; hashing before the shuffle is a 5-10× byte reduction
   * on the corpus-sized posting table, the same content-hash
   * discipline as exact dedup, same birthday bound). Occurrence counts
   * come from one count window over the single fingerprint shuffle
   * (the boilerplate shape); the per-doc rollup combines map-side.
   */
  def substringDuplication(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20
  ): DataFrame = {
    val spans = df
      .select(col(idCol), F.tokens(col(textCol)).as("tk"))
      .select(col(idCol), explode_outer(positionalNgrams(col("tk"), k)).as("gram"))
      .select(col(idCol),
        when(col("gram").isNotNull, xxhash64(col("gram"))).as("h1"),
        when(col("gram").isNotNull, xxhash64(lit("graft-seed-2"), col("gram"))).as("h2"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h1"), col("h2"))
    spans
      .withColumn("occ", count(col("h1")).over(w))
      .groupBy(col(idCol))
      .agg(
        count(col("h1")).as("n_spans"),
        sum(when(col("h1").isNotNull && col("occ") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0, col("n_dup").cast("double") / col("n_spans").cast("double")))
  }

  /** PII patterns shared by the scrub operator and its oracle — kept to
    * syntax with identical semantics in Java regex and RE2 (no
    * backrefs/lookaround), so both engines find the same spans. */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIp = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val piiPhone = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /**
   * PII scrubbing (corpus-cleaning step): per document, counts of
   * email / IPv4 / phone-shaped spans and the text with each replaced
   * by a type tag, applied email → ip → phone so the classes cannot
   * shadow each other differently across engines. Pure per-row column
   * algebra — codegen'd, no shuffle at any scale.
   */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      size(regexp_extract_all(col(textCol), lit(piiEmail), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(piiIp), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(piiPhone), lit(0))).cast("long").as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), piiEmail, "<EMAIL>"),
          piiIp, "<IP>"),
        piiPhone, "<PHONE>").as("scrubbed")
    )

  /** Number of a language's marker words present in the text. */
  def langScore(textCol: Column, markers: Seq[String]): Column =
    markers
      .map(m => when(instr(padded(textCol), s" $m ") > 0, 1).otherwise(0))
      .reduce[Column](_ + _)

  /**
   * Heuristic language ID: argmax of marker-word hit counts, first
   * language in `langMarkers` order wins ties; "und" when nothing hits.
   */
  def langId(textCol: Column): Column = {
    val scores = langMarkers.map { case (lang, ms) => lang -> langScore(textCol, ms) }
    val best = scores.map(_._2).reduce[Column]((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), e) =>
      when(s > 0 && s === best, lit(lang)).otherwise(e)
    }
  }

  /** Whitespace-delimited token count. */
  def wsTokenCount(textCol: Column): Column = size(regexp_extract_all(textCol, lit("\\S+"), lit(0)))

  /** BPE-ish pre-tokenizer count: letter runs, single digits, punct runs. */
  def bpeTokenCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+"), lit(0)))

  /** Punctuation-character count. */
  def punctCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit("[.,;:!?'\"()\\[\\]{}-]"), lit(0)))

  /**
   * Quality score in [0,1]: blends length band, stopword hit ratio and
   * punctuation density — the usual cheap pre-filter in corpus pipelines.
   */
  def qualityScore(textCol: Column): Column = {
    val nChars = length(textCol).cast("double")
    val words = wsTokenCount(textCol).cast("double")
    val stop = langScore(textCol, langMarkers.head._2).cast("double")
    val punct = punctCount(textCol).cast("double")
    val lenScore = when(nChars >= 100 && nChars <= 10000, lit(1.0))
      .otherwise(when(nChars < 100, nChars / lit(100.0)).otherwise(lit(10000.0) / nChars))
    val stopScore = stop / lit(5.0)
    val punctPenalty = when(words > 0, least(punct / words, lit(1.0))).otherwise(lit(1.0))
    (lenScore * lit(0.5)) + (stopScore * lit(0.3)) + ((lit(1.0) - punctPenalty) * lit(0.2))
  }

  /**
   * Content fingerprint: polynomial rolling hash (base 131, mod 2^31-1)
   * over the code points of the normalized text ([a-z0-9 ] of the first
   * 128 chars) — cross-engine deterministic, unlike xxhash.
   */
  def fingerprint(textCol: Column): Column = {
    val norm = substring(regexp_replace(lower(textCol), "[^a-z0-9 ]", ""), 1, 128)
    val codes = transform(filter(split(norm, ""), ch => length(ch) > 0), ch => ascii(ch).cast("long"))
    aggregate(codes, lit(0L), (acc, c) => (acc * lit(131L) + c) % lit(2147483647L))
  }

  /**
   * Sliding-window token chunking — the context-window splitter a
   * training pipeline runs before sequence packing: each document
   * becomes overlapping chunks of up to `chunk` tokens whose starts
   * step by `stride` (stride < chunk gives the standard overlap that
   * keeps spans crossing a chunk boundary learnable; stride = chunk is
   * disjoint windows). Output one row per (doc, chunk_idx) with the
   * chunk's token count and space-joined text. Zero-token documents
   * keep one row (null idx/count/text) so a caller joining chunks back
   * to the corpus loses nothing — the boilerplate explode_outer
   * discipline.
   *
   * Scale shape: a single narrow pass — tokenize, per-row sequence of
   * chunk starts, posexplode_outer, slice — chunking is embarrassingly
   * parallel per document, so there is NO shuffle at any corpus size
   * and the whole pipeline stays in codegen. Downstream token-budget
   * packing (q_pack_shards) consumes the (chunk, n_tokens) rows
   * directly.
   */
  def chunkDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunk: Int = 64,
      stride: Int = 48
  ): DataFrame = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      s"need 0 < stride <= chunk, got chunk=$chunk stride=$stride")
    df.select(col(idCol), F.tokens(col(textCol)).as("tk"))
      .select(col(idCol), col("tk"),
        posexplode_outer(when(size(col("tk")) > 0,
          sequence(lit(0), size(col("tk")) - 1, lit(stride)))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        slice(col("tk"), col("col") + 1, lit(chunk)).as("chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Full per-document analysis frame. */
  def analyze(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      langId(col(textCol)).as("lang_pred"),
      wsTokenCount(col(textCol)).as("ws_tokens"),
      bpeTokenCount(col(textCol)).as("bpe_tokens"),
      qualityScore(col(textCol)).as("quality"),
      fingerprint(col(textCol)).as("fp")
    )
}
