package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sql.GraftFunctions
import graft.functions.F

/**
 * BM25 ranked retrieval over the token postings table — the ranking
 * layer on top of [[InvertedIndex]] (reference ItemsInvertedIndex
 * resolves boolean phrase containment, yupana-schema/externallinks/
 * ItemsInvertedIndex.scala; training-data pipelines additionally need
 * scored retrieval for quality filtering and query-based curation).
 *
 * Scale design: the query set is tiny and broadcast; everything per-doc
 * is computed with ONE token explode + map-side-combined (doc, term)
 * counts, the document-frequency table is |vocab|-bounded, and the
 * final top-k per query runs through the rank-window pattern that
 * TopKPerKeyStrategy rewrites to a bounded heap (no per-query sort).
 * Corpus constants (N, total token length) are DERIVED from the
 * postings table — N = count of tokenized docs, L = Σ tf — and ride
 * along as a lazy 1-row broadcast instead of a blocking
 * `lens.agg(...).head()` pass over a second tokenize subtree.
 * Consequence: documents with zero tokens do not count toward N or
 * avgdl — they can never be retrieved, so defining the stats over the
 * retrievable corpus is the honest choice (mirrored in the oracle).
 * Single-tokenize at scale: build [[Retrieval.tokenPostings]] once per
 * corpus version, persist it, and query via [[Retrieval.bm25TopKFromPostings]]
 * — the consumers then share the stored postings instead of each
 * pruning its own tokenize subtree out of the inline plan.
 *
 * Cross-engine determinism (SURVEY.md §6): with k1 = 1.2, b = 0.75 the
 * BM25 term factor is exactly rational —
 *
 *   tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))
 *     = (22·L·tf) / (10·L·tf + 3·L + 9·N·len),  avgdl = L/N
 *
 * so it is integer products and ONE IEEE division. The IDF
 * ln((N − df + ½)/(df + ½) + 1) is quantized to integer micro-nats
 * (floor(·1e6)) so a sub-ulp ln() difference between engines cannot
 * move the score, and each per-term contribution is quantized to an
 * exact integer (floor(·1e8 + ½) — floor is rounding-mode-neutral,
 * unlike a double→DECIMAL cast, which ties HALF_UP in Spark vs
 * HALF_EVEN in DuckDB and a dyadic term factor like j/512 CAN tie)
 * before an exact integer sum, making the total independent of both
 * engine and aggregation order.
 */
object Retrieval {

  /** Default benchmark query set (terms from the corpus vocabulary). */
  val defaultQueries: Seq[(String, Seq[String])] = Seq(
    "q_hash_join"   -> Seq("hash", "join"),
    "q_fast_scan"   -> Seq("scan", "filter", "fast"),
    "q_vector_data" -> Seq("vector", "data")
  )

  /**
   * Token postings (doc_id, term, tf, len) — the BM25 index table. One
   * tokenize + explode + map-side-combined aggregate over the corpus.
   * At scale this is built ONCE per corpus version and persisted (the
   * inverted-index discipline): every downstream consumer — tf lookup,
   * document frequencies, corpus stats — then reads the postings table
   * instead of re-tokenizing text. [[bm25TopKFromPostings]] consumes it
   * directly; the ad-hoc [[bm25TopK]] derives it inline (where Catalyst
   * column-pruning specializes each consumer's subtree — the inline
   * form re-tokenizes per consumer, which is exactly why the persisted
   * form exists).
   */
  def tokenPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs
      .select(col(idCol).as("doc_id"), F.tokens(col(textCol)).as("tk"))
      // len rides along through the explode (constant per doc) so the
      // per-(doc, term) aggregate already carries it — no |docs| join later
      .select(col("doc_id"), size(col("tk")).cast("long").as("len"), explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
  }

  /** Ad-hoc BM25 over raw text: derives [[tokenPostings]] inline. */
  def bm25TopK(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(String, Seq[String])] = defaultQueries,
      k: Int = 10
  ): DataFrame =
    bm25TopKFromPostings(spark, tokenPostings(docs, idCol, textCol), queries, k)

  /**
   * BM25 top-k against a (possibly persisted) postings table — see
   * [[tokenPostings]] for the schema and the build-once discipline.
   */
  def bm25TopKFromPostings(
      spark: SparkSession,
      tf: DataFrame,
      queries: Seq[(String, Seq[String])] = defaultQueries,
      k: Int = 10
  ): DataFrame = {
    // corpus constants derived from the postings themselves — NOT a
    // separate tokenize pass: Σ tf over a doc's terms is its token
    // count, so N and L fall out of a per-doc re-aggregate. 1-row
    // broadcast, lazy (no head() blocking the driver). Consequence:
    // N counts tokenized docs only (a zero-token doc can never be
    // retrieved), mirrored in the oracle.
    val stats = tf
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
      .agg(
        count(lit(1)).cast("double").as("n_docs"),
        coalesce(sum(col("len")), lit(0L)).cast("double").as("tot_len"))
    bm25Scored(spark, tf, stats, queries, k)
  }

  /** The one copy of the quantized BM25 scoring kernel (scaladoc at the
    * object head): callers supply the postings and the 1-row
    * (n_docs, tot_len) stats frame — [[bm25TopKFromPostings]] derives
    * stats from the postings, [[bm25TopKFromIndex]] reads the index's
    * stored per-shard aggregates so SERVING never re-aggregates the
    * corpus. */
  private def bm25Scored(
      spark: SparkSession,
      tf: DataFrame,
      stats: DataFrame,
      queries: Seq[(String, Seq[String])],
      k: Int
  ): DataFrame = {
    graft.sql.GraftFunctions.installTopKStrategy(spark)
    import spark.implicits._

    val queryTerms = queries
      .flatMap { case (qid, terms) => terms.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    // document frequencies only for the query terms: |vocab| is unbounded
    // on a real corpus, so never broadcast the full table
    val dfreq = tf
      .join(broadcast(queryTerms.select(col("term")).distinct()), "term")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))

    // idf in integer micro-nats; ln argument is one division of exact ints
    val idfMicro = floor(
      log((lit(2.0) * col("n_docs") - lit(2.0) * col("df") + lit(1.0)) / (lit(2.0) * col("df") + lit(1.0)) + lit(1.0)) *
        lit(1e6)).cast("long")
    // rational BM25 term factor: integer products, one IEEE division
    val tfPart =
      (lit(22.0) * col("tot_len") * col("tf")) /
        (lit(10.0) * col("tot_len") * col("tf") + lit(3.0) * col("tot_len") +
          lit(9.0) * col("n_docs") * col("len"))

    val scored = broadcast(queryTerms)
      .join(tf, "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", idfMicro.cast("double") * tfPart)
      .groupBy(col("query_id"), col("doc_id"))
      .agg((sum(floor(col("contrib") * lit(1e8) + lit(0.5)).cast("decimal(38,0)")).cast("double") / lit(1e8))
        .as("score"))

    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /**
   * TF-IDF dot-product top-k — the second retrieval leg for
   * [[hybridTopK]]. Score = Σ over shared terms of
   * tf(term, doc) · idf(term)², i.e. the dot product of the standard
   * tf·idf document vector with the query's idf vector (query tf = 1).
   * Cosine's norm is deliberately omitted: the fusion layer consumes
   * RANKS only (RRF), and an integer dot product is exactly computable
   * in both engines — idf is quantized to integer milli-nats
   * (floor(ln((N+1)/(df+1))·1e3)), every contribution is an integer
   * product, and the per-(query, doc) sum is an exact integer — no
   * float summation order anywhere, so Spark and DuckDB rank
   * bit-identically.
   *
   * Scale shape mirrors [[bm25TopKFromPostings]]: query terms
   * broadcast, document frequencies computed only for the query terms
   * (never the full vocab), corpus constants as a lazy 1-row
   * broadcast, top-k through the rank-window pattern the TopK strategy
   * rewrites to a bounded heap.
   */
  def tfidfTopKFromPostings(
      spark: SparkSession,
      tf: DataFrame,
      queries: Seq[(String, Seq[String])] = defaultQueries,
      k: Int = 10
  ): DataFrame = {
    graft.sql.GraftFunctions.installTopKStrategy(spark)
    import spark.implicits._

    // N = tokenized docs (the bm25 stats' definition), as a lazy 1-row
    // broadcast — only the distinct-doc count, no per-doc carry-along
    val stats = tf
      .select(col("doc_id")).distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val queryTerms = queries
      .flatMap { case (qid, terms) => terms.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val dfreq = tf
      .join(broadcast(queryTerms.select(col("term")).distinct()), "term")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))

    // idf in integer milli-nats: ln of ONE division of exact doubles,
    // then floor — granular enough to separate distinct df values,
    // small enough that tf · idf² stays far inside long range
    // (idf ≤ ~21e3 at N = 1e9 ⇒ contribution ≤ tf · 4.4e8)
    val idfMilli = floor(
      log((col("n_docs") + lit(1.0)) / (col("df").cast("double") + lit(1.0))) * lit(1e3))
      .cast("long")

    val scored = broadcast(queryTerms)
      .join(tf, "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", col("tf") * idfMilli * idfMilli)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))

    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /**
   * Hybrid retrieval: BM25 and TF-IDF-dot-product legs fused with
   * reciprocal-rank fusion (Cormack et al. 2009) —
   * rrf(d) = Σ_legs 1/(rrfK + rank_leg(d)), the standard way a
   * curation pipeline combines a lexical and a second scorer without
   * calibrating score scales (ranks only, so the legs' score units
   * never meet). Documents surfaced by a single leg keep that leg's
   * contribution alone; both per-leg ranks ride along (null when the
   * leg missed the doc) so the caller can audit the fusion.
   *
   * Determinism: each leg's ranks are exact-integer-ranked ([[
   * bm25TopKFromPostings]] quantized contributions, [[
   * tfidfTopKFromPostings]] integer dot products); the rrf score is
   * two exactly-rounded IEEE divisions added in a FIXED order (bm25
   * leg + tfidf leg — the oracle mirrors it), so the fused ordering is
   * engine-independent, with doc_id as the final tiebreak.
   *
   * Scale: each leg ends at kPerLeg rows per query, so the fusion —
   * one full-outer join on (query_id, doc_id) and a rank window —
   * touches ≤ 2·kPerLeg·|queries| rows regardless of corpus size; the
   * legs dominate, and they are the audited broadcast-join shapes.
   */
  // ==================================================================
  // Persisted postings index — the retrieval family's between-rebuilds
  // lifecycle (build / admit / serve / compact), the same LSM shape as
  // the text-signature index (Dedup.buildTextIndex…) and the vector
  // indexes (Ann.appendToIvfIndex…): rebuild rarely, admit new shards
  // cheaply, promote/compact as maintenance.
  //
  // Layout under <path> (shard dirs named by graft.core.ShardStore;
  // `shard=__base` holds the built and compacted corpus):
  //   postings/shard=<name>/  per-shard (doc_id, term, tf, len) rows
  //   stats/shard=<name>/     ONE row (n_docs, total_len) per shard —
  //                           BM25's corpus constants are additive over
  //                           disjoint shards, so serving reads a
  //                           bounded stats table instead of
  //                           re-aggregating the corpus per query batch
  //                           (the groupBy(doc_id) pass the ad-hoc path
  //                           pays disappears at serve time)
  //   meta/                   written LAST at build — its presence
  //                           certifies a complete base build
  //   promoting/              compaction's staged postings/ + stats/
  //                           and fold list; its presence is the crash
  //                           marker (graft.core.ShardStore.fold)
  //
  // Shard commit order: postings first, stats last — a committed
  // stats/shard=<name> certifies the whole shard, so a crashed append
  // (postings written, stats not) is invisible to serving and to
  // compaction, and its replay overwrites both.
  // Admission contract: a doc_id lives in exactly ONE shard
  // ([[admitDocs]] screens novelty) — BM25, unlike the dedup index,
  // does NOT tolerate duplicated rows (df/N/tf would shift), so
  // identity is collapsed defensively only while the compaction crash
  // marker exists, never in the steady state.
  // ==================================================================

  private val BaseShard = graft.core.ShardStore.dirName("__base")

  private def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One (n_docs, total_len) row for a shard's postings frame. */
  private def shardStats(tf: DataFrame): DataFrame =
    tf.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      coalesce(sum(col("tf")), lit(0L)).as("total_len"))

  /**
   * Build the persisted postings index: wipe any previous state (meta
   * deleted FIRST, so a crash mid-wipe leaves a serve-refusing index,
   * never a half-wiped readable one), write the corpus postings as
   * `shard=__base`, its stats row, then meta LAST.
   */
  def buildPostingsIndex(
      docs: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fs = fsOf(spark, path)
    Seq("meta", "stats", "postings", graft.core.ShardStore.Marker)
      .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
    val tf = tokenPostings(docs, idCol, textCol)
    tf.write.mode("overwrite").parquet(s"$path/postings/$BaseShard")
    shardStats(tf).coalesce(1).write.mode("overwrite").parquet(s"$path/stats/$BaseShard")
    Seq(("letters_digits_lower", 1)).toDF("tokenizer", "format")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /**
   * Append one shard's postings to an existing index. One narrow
   * tokenize pass over the NEW docs; the base corpus is never
   * rewritten. Each shard overwrites its OWN dirs — replaying a failed
   * admission converges instead of duplicating postings. The stats row
   * is derived from the same plan (a second shard-sized tokenize, paid
   * so an empty shard — whose parquet dir may carry no readable data
   * file — still gets its (0, 0) stats row without a read-back).
   */
  def appendPostings(
      docs: DataFrame, indexPath: String, idCol: String, textCol: String,
      shard: String): Unit = {
    require(shard.nonEmpty && shard != "__base",
      s"shard name must be a non-empty label other than the reserved __base, got '$shard'")
    val dir = graft.core.ShardStore.dirName(shard)
    val tf = tokenPostings(docs, idCol, textCol)
    tf.write.mode("overwrite").parquet(s"$indexPath/postings/$dir")
    shardStats(tf).coalesce(1).write.mode("overwrite").parquet(s"$indexPath/stats/$dir")
  }

  /** Shard dir names servable right now: stats committed (written last
    * ⇒ postings complete). A crashed append leaves postings without
    * stats and is excluded from BOTH trees, keeping constants and
    * postings consistent with each other. */
  private def servableShards(spark: SparkSession, path: String): Array[String] =
    graft.core.ShardStore.committed(spark, s"$path/stats").map(_.getName)

  /**
   * The readable postings sources a scan honoring `excludeShard` reads,
   * crash-window aware. Steady state: every servable shard whose
   * postings dir is committed. While a compaction's fold list exists,
   * the folded shards and `shard=__base` — possibly half-overwritten —
   * are served from the staged `promoting/postings` copy (durable
   * before the serve tree mutates), and only shards admitted after the
   * snapshot read from their own dirs: a crash anywhere after the stage
   * can therefore never lose or double-serve the base corpus.
   */
  private def postingsSources(
      spark: SparkSession, indexPath: String,
      excludeShard: Option[String]): Seq[String] = {
    val excluded = excludeShard.map(graft.core.ShardStore.dirName)
    val names = servableShards(spark, indexPath).filterNot(n => excluded.contains(n))
    def readable(ns: Array[String]): Seq[String] = ns.toIndexedSeq
      .map(n => s"$indexPath/postings/$n")
      .filter(graft.core.ShardStore.isCommitted(spark, _))
    graft.core.ShardStore.foldList(spark, indexPath) match {
      case Some(folded) =>
        val staged = s"$indexPath/${graft.core.ShardStore.Marker}/postings"
        (if (graft.core.ShardStore.isCommitted(spark, staged)) Seq(staged) else Nil) ++
          readable(names.filterNot(n => n == BaseShard || folded(n)))
      case None => readable(names)
    }
  }

  /** Meta guard shared by every index reader: refuses an index without
    * meta (a crashed [[buildPostingsIndex]]). */
  private def requireMeta(spark: SparkSession, indexPath: String): Unit =
    require(fsOf(spark, indexPath)
      .exists(new org.apache.hadoop.fs.Path(s"$indexPath/meta/_SUCCESS")),
      s"no complete postings index at $indexPath (meta missing — build crashed or never ran)")

  /** Read the postings rows of already-resolved sources,
    * identity-collapsed while the compaction marker exists. */
  private def readPostings(
      spark: SparkSession, indexPath: String, srcs: Seq[String]): DataFrame = {
    val tf = spark.read.parquet(srcs: _*)
      .select(col("doc_id"), col("term"), col("tf"), col("len"))
    if (graft.core.ShardStore.folding(spark, indexPath)) tf.dropDuplicates(Seq("doc_id", "term"))
    else tf
  }

  /**
   * The postings of a persisted index: committed shards only, served
   * through the crash-window protocol of [[postingsSources]] and
   * identity-collapsed while the compaction marker exists.
   * `excludeShard` drops one shard's rows — the replay-safety hook
   * [[admitDocs]] probes through.
   */
  def postingsFromIndex(
      spark: SparkSession, indexPath: String,
      excludeShard: Option[String] = None): DataFrame = {
    requireMeta(spark, indexPath)
    val srcs = postingsSources(spark, indexPath, excludeShard)
    require(srcs.nonEmpty, s"postings index at $indexPath holds no readable shard data")
    readPostings(spark, indexPath, srcs)
  }

  /** The index's corpus constants as the scoring kernel's 1-row
    * (n_docs, tot_len) frame: a sum over the BOUNDED per-shard stats
    * table in the steady state; re-derived from the collapsed postings
    * while the compaction marker exists (the stats tree double-counts
    * in exactly that window). */
  private def statsFromIndex(
      spark: SparkSession, indexPath: String, tf: DataFrame): DataFrame =
    if (graft.core.ShardStore.folding(spark, indexPath))
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
        .agg(
          count(lit(1)).cast("double").as("n_docs"),
          coalesce(sum(col("len")), lit(0L)).cast("double").as("tot_len"))
    else {
      val names = servableShards(spark, indexPath)
      spark.read.option("basePath", s"$indexPath/stats")
        .parquet(names.map(n => s"$indexPath/stats/$n").toIndexedSeq: _*)
        .agg(
          coalesce(sum(col("n_docs")), lit(0L)).cast("double").as("n_docs"),
          coalesce(sum(col("total_len")), lit(0L)).cast("double").as("tot_len"))
    }

  /**
   * BM25 serve path against the persisted index: same quantized kernel
   * as [[bm25TopKFromPostings]] (exact-equal scores on the same
   * corpus), but the corpus constants come from the stored per-shard
   * aggregates — serving never pays the corpus-wide groupBy(doc_id)
   * pass, only the query-term-filtered postings scan.
   */
  def bm25TopKFromIndex(
      spark: SparkSession,
      indexPath: String,
      queries: Seq[(String, Seq[String])] = defaultQueries,
      k: Int = 10
  ): DataFrame = {
    val tf = postingsFromIndex(spark, indexPath)
    bm25Scored(spark, tf, statsFromIndex(spark, indexPath, tf), queries, k)
  }

  /**
   * The per-shard admission cycle: screen the shard's doc ids against
   * the index (an id already indexed is a re-admission — appending it
   * would double-count df/N/tf), append the novel survivors' postings
   * under this shard's name, return the surviving rows.
   * Replay-safe: the screen EXCLUDES the shard's own rows, so a retry
   * recomputes the same survivor set and overwrites the same dirs —
   * including into a still-empty base (zero indexed docs ⇒ every doc
   * is novel), where there are no postings to screen against.
   * The admitted frame is collapsed to ONE row per id first: duplicated
   * input rows would double tf in [[tokenPostings]] while
   * [[shardStats]]' countDistinct counts the id once, drifting serving
   * scores from the monolithic recompute (rows sharing an id are
   * assumed identical — an arbitrary one survives).
   * Scale shape: the shard's ids broadcast against ONE narrow id scan
   * of the index (the [[graft.operators.Dedup.admitShard]] probe
   * shape) — nothing corpus-sized shuffles or collects.
   */
  def admitDocs(
      docs: DataFrame, indexPath: String, idCol: String, textCol: String,
      shard: String): DataFrame = {
    val spark = docs.sparkSession
    requireMeta(spark, indexPath)
    // resolve sources ONCE (shard-dir listings are driver-side RPCs on
    // object stores); empty = nothing indexed beyond this shard's own
    // rows — an empty-corpus base writes no readable parquet data file
    val srcs = postingsSources(spark, indexPath, excludeShard = Some(shard))
    val unique = docs.dropDuplicates(Seq(idCol))
    val survivors =
      if (srcs.isEmpty) unique
      else {
        val dupIds = readPostings(spark, indexPath, srcs)
          .select(col("doc_id"))
          .join(broadcast(unique.select(col(idCol).as("doc_id"))), "doc_id")
          .distinct() // collapse per-posting multiplicity, not the probe side
        unique.join(
          dupIds.hint("shuffle_hash"), unique(idCol) === dupIds("doc_id"), "left_anti")
      }
    appendPostings(survivors, indexPath, idCol, textCol, shard)
    survivors
  }

  /** Fold every committed shard into `shard=__base` — restartable
    * maintenance, single concurrent writer (the repo-wide index
    * discipline). See [[compactPostingsIndexImpl]]. */
  def compactPostingsIndex(spark: SparkSession, path: String): Unit =
    compactPostingsIndexImpl(spark, path, () => ())

  /**
   * [[compactPostingsIndex]] with a test seam: `afterStage` runs after
   * the staged merge is durable but before the serve tree mutates —
   * the window crash specs inject into. Returns the number of shards
   * folded.
   *
   * Runs the [[graft.core.ShardStore.fold]] protocol with home `<path>`
   * and trees `stats/` (listed: committed last) and `postings/`; the
   * in-tree `shard=__base` is the base, never folded. The stage merges
   * the base and the snapshot's postings (collapsing (doc_id, term)
   * identity — a PRIOR attempt's crash window leaves folded rows
   * twice) into `promoting/postings` and derives `promoting/stats` from
   * it; install overwrites `shard=__base` (postings, then stats). Every
   * crash after the stage leaves the marker and the fold list, and
   * readers then serve the folded shards from the STAGED copy itself
   * (never the mutating `shard=__base` dir — see [[postingsSources]]),
   * collapse identity and re-derive stats, so serving stays EXACT
   * through the whole window, including a crash mid-way through the
   * base overwrite.
   */
  private[graft] def compactPostingsIndexImpl(
      spark: SparkSession, path: String, afterStage: () => Unit): Int =
    graft.core.ShardStore.fold(spark, path, Seq(s"$path/stats", s"$path/postings"), afterStage,
      keep = Set(BaseShard)) { (stage, snap) =>
      val srcs = (BaseShard +: snap.map(_.getName)).map(n => s"$path/postings/$n")
        .filter(graft.core.ShardStore.isCommitted(spark, _))
      require(srcs.nonEmpty, s"postings index at $path holds no readable shard data")
      spark.read.parquet(srcs.toIndexedSeq: _*)
        .select(col("doc_id"), col("term"), col("tf"), col("len"))
        .dropDuplicates(Seq("doc_id", "term"))
        .write.mode("overwrite").parquet(s"$stage/postings")
      // stats derived from the STAGED copy (read back — one narrow
      // agg over what __base will hold, immune to plan re-derivation)
      shardStats(spark.read.parquet(s"$stage/postings"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/stats")
    } { stage =>
      spark.read.parquet(s"$stage/postings")
        .write.mode("overwrite").parquet(s"$path/postings/$BaseShard")
      spark.read.parquet(s"$stage/stats")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/stats/$BaseShard")
    }

  def hybridTopK(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(String, Seq[String])] = defaultQueries,
      kPerLeg: Int = 10,
      k: Int = 5,
      rrfK: Int = 60
  ): DataFrame = {
    val postings = tokenPostings(docs, idCol, textCol)
    val lexical = bm25TopKFromPostings(spark, postings, queries, kPerLeg)
      .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
    val dense = tfidfTopKFromPostings(spark, postings, queries, kPerLeg)
      .select(col("query_id"), col("doc_id"), col("rank").as("tfidf_rank"))
    val fused = lexical
      .join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("bm25_rank").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("tfidf_rank").cast("double")), lit(0.0)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id").asc)
    fused
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25_rank"), col("tfidf_rank"),
        col("rrf"), col("rank"))
  }
}
