package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F

/**
 * Data Selection via Importance Resampling (DSIR — Xie et al., "Data
 * Selection for Language Models via Importance Resampling", NeurIPS
 * 2023): pick raw-pool documents that look like a small high-quality
 * TARGET corpus by importance weight under hashed-unigram bag-of-words
 * models,
 *
 *   log w(d) = Σ_{t ∈ tokens(d)} ln p̂_target(b(t)) − ln p̂_raw(b(t)),
 *
 * where b(·) hashes terms into `buckets` feature buckets and both
 * distributions are add-1 smoothed over the bucket space. The
 * reference engine has no corpus-selection surface (ItemsInvertedIndex
 * stops at boolean retrieval — yupana-schema/externallinks/
 * ItemsInvertedIndex.scala); this operator belongs to the
 * training-data mandate, in the [[Curation]] /
 * [[CorpusStats.lmPerplexity]] family.
 *
 * Cross-engine determinism (SURVEY.md §6): the feature bucket is the
 * first 24 bits of md5(term) (hex prefix → integer — bit-equal in
 * DuckDB via CAST(CONCAT('0x', substr(md5(w),1,6)) AS BIGINT)), and
 * the per-bucket log ratio ln(((ct+1)(Nr+B)) / ((cr+1)(Nt+B))) is ONE
 * natural log of ONE exactly-rounded IEEE division of exact integer
 * products (< 2^53), quantized to integer micro-nats at the leaf
 * (floor ·1e6, the BM25 discipline) — per-doc scores are exact BIGINT
 * sums, engine- and aggregation-order-independent; the final `logw`
 * double is one division.
 *
 * Scale shape (100 TB): [[featureCounts]] is ONE tokenize + explode
 * with a map-side-combined (doc, bucket) aggregate — the exchange
 * carries four narrow columns, never text; [[ratioTable]]
 * re-aggregates it to ≤ `buckets` rows (broadcast); [[scores]] joins
 * the broadcast table and partially aggregates per doc — one
 * |docs|-row exchange; [[select]]'s orderBy+limit executes as
 * TakeOrderedAndProject (bounded per-partition heaps, no global
 * sort). Between corpus versions, [[fit]] persists the model (ratio
 * table + totals + geometry, meta written LAST — the index-family
 * crash-marker discipline) and [[scoreWithModel]] serves any batch
 * with a broadcast join only; the streaming twin
 * [[graft.streaming.StreamingDsir]] runs the identical kernel per
 * micro-batch.
 */
object Dsir {

  /** 24-bit md5 feature bucket (hex prefix → integer). */
  def bucket(term: Column, buckets: Int): Column =
    conv(substring(md5(term.cast("binary")), 1, 6), 16, 10).cast("long") % buckets

  /**
   * The corpus feature table (doc_id, is_target, bucket, tf): one
   * tokenize + explode, aggregated map-side to hashed-unigram counts.
   * Null target flags count as raw pool.
   */
  def featureCounts(
      docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    docs
      .select(col(idCol).as("doc_id"), coalesce(isTarget, lit(false)).as("is_target"),
        explode(F.tokens(col(textCol))).as("w"))
      .select(col("doc_id"), col("is_target"), bucket(col("w"), buckets).as("bucket"))
      .groupBy(col("doc_id"), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Per-bucket occurrence counts of both corpora: (bucket, ct, cr),
    * ≤ `buckets` rows. */
  private def bucketCounts(feat: DataFrame): DataFrame =
    feat.groupBy(col("bucket")).agg(
      sum(when(col("is_target"), col("tf")).otherwise(lit(0L))).as("ct"),
      sum(when(col("is_target"), lit(0L)).otherwise(col("tf"))).as("cr"))

  /** floor(1e6 · ln(((ct+1)(nr+B)) / ((cr+1)(nt+B)))) as exact BIGINT. */
  private def ratioQ(ct: Column, cr: Column, nt: Column, nr: Column, buckets: Int): Column =
    floor(log(
      ((ct + lit(1L)).cast("double") * (nr + lit(buckets.toLong)).cast("double")) /
        ((cr + lit(1L)).cast("double") * (nt + lit(buckets.toLong)).cast("double"))) *
      lit(1000000.0)).cast("long")

  /** The smoothed log-ratio of a bucket NEITHER corpus touched — what
    * [[scoreWithModel]] substitutes for buckets absent from the stored
    * table (same Math.log the column expression compiles to). */
  private def defaultRatioQ(nt: Long, nr: Long, buckets: Int): Long =
    math.floor(math.log(
      (1.0 * (nr + buckets).toDouble) / (1.0 * (nt + buckets).toDouble)) * 1000000.0).toLong

  /**
   * The quantized importance-ratio table (bucket, ratio_q) for every
   * bucket either corpus touched — ≤ `buckets` rows, the broadcastable
   * model.
   */
  def ratioTable(feat: DataFrame, buckets: Int): DataFrame = {
    val bc = bucketCounts(feat)
    val tot = bc.agg(
      coalesce(sum(col("ct")), lit(0L)).as("nt"),
      coalesce(sum(col("cr")), lit(0L)).as("nr"))
    bc.crossJoin(broadcast(tot))
      .select(col("bucket"),
        ratioQ(col("ct"), col("cr"), col("nt"), col("nr"), buckets).as("ratio_q"))
  }

  /** Per-doc importance scores for the raw pool:
    * (doc_id, doc_tokens, logw_q). Inner join is exact here — every
    * raw-pool token's bucket has cr ≥ 1, so it is in the table. */
  def scores(feat: DataFrame, ratios: DataFrame): DataFrame =
    feat.filter(!col("is_target"))
      .join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("doc_tokens"),
        sum(col("tf") * col("ratio_q")).as("logw_q"))

  /**
   * Top-k most-target-like raw-pool documents:
   * (doc_id, doc_tokens, logw_q, logw, rank), rank 1..k by quantized
   * weight descending, doc_id ascending. (The paper's sampled variant
   * adds Gumbel noise before the top-k; the deterministic top-k is its
   * zero-temperature limit and the form an exact gate can pin.)
   */
  def select(
      docs: DataFrame, idCol: String, textCol: String, isTarget: Column,
      buckets: Int = 4096, k: Int = 100): DataFrame = {
    requireBuckets(buckets)
    val feat = featureCounts(docs, idCol, textCol, isTarget, buckets)
    val sc = scores(feat, ratioTable(feat, buckets))
    F.rankBy(sc.orderBy(col("logw_q").desc, col("doc_id").asc).limit(k), "rank",
        -col("logw_q"), col("doc_id"))
      .withColumn("logw", col("logw_q").cast("double") / lit(1000000.0))
      .select(col("doc_id"), col("doc_tokens"), col("logw_q"), col("logw"), col("rank"))
  }

  private def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ==================================================================
  // Persisted model — GENERATIONAL layout, because bucket counts are
  // ADDITIVE: a model refresh for a new batch is O(batch), never a
  // corpus re-scan ([[update]]). Layout under <path>:
  //   gen=<k>/counts/  (bucket, ct, cr)   the sufficient statistics
  //   gen=<k>/ratios/  (bucket, ratio_q)  the broadcastable serve table
  //   gen=<k>/meta/    ONE row (buckets, nt, nr, default_q, batch,
  //                    generation) — written LAST: its presence
  //                    certifies the whole generation
  // Readers serve the HIGHEST generation with committed meta, so a
  // crashed fit/update leaves a meta-less partial dir that is simply
  // invisible (and a replay overwrites it) — zero-downtime refresh,
  // no swap marker needed. `batch` is the update's idempotency key:
  // replaying the latest batch label is a no-op.
  // ==================================================================

  private def genDir(path: String, g: Long): String = s"$path/gen=$g"

  /** All gen=<k> directory numbers present under the model path
    * (committed or partial) — the pruning and serving walks share this
    * one listing so neither ever issues per-generation existence RPCs
    * for directories that were already deleted. */
  private def listGenDirs(
      fs: org.apache.hadoop.fs.FileSystem, modelPath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(modelPath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
      .toSeq
  }

  /** Highest generation whose meta is committed (servable), if any. */
  private def latestGen(spark: SparkSession, modelPath: String): Option[Long] = {
    val fs = fsOf(spark, modelPath)
    listGenDirs(fs, modelPath).iterator
      .filter(g => fs.exists(new org.apache.hadoop.fs.Path(s"${genDir(modelPath, g)}/meta/_SUCCESS")))
      .foldLeft(Option.empty[Long])((a, g) => Some(a.fold(g)(math.max(_, g))))
  }

  /** Best-effort prune of EXISTING generation dirs below `keep` —
    * driven by one directory listing, so the delete count is the
    * number of dirs actually present (≤ 2 in steady state), never
    * O(generation) no-op RPCs against an object store. */
  private def pruneGensBelow(
      spark: SparkSession, modelPath: String, keep: Long): Unit = {
    val fs = fsOf(spark, modelPath)
    listGenDirs(fs, modelPath).filter(_ < keep).foreach { k =>
      val d = genDir(modelPath, k)
      fs.delete(new org.apache.hadoop.fs.Path(d), true)
      // drop the pruned generation's meta/counts cache entries with the
      // dirs (a steady stream otherwise accretes one dead entry pair
      // per generation until LRU eviction)
      graft.core.DirCache.invalidateUnder(d)
    }
  }

  /** Write one complete generation: counts, ratios (the same [[ratioQ]]
    * Column expression as the inline path — stored quantized values are
    * bit-identical to [[ratioTable]]'s), then meta LAST. */
  private def writeGeneration(
      spark: SparkSession, path: String, g: Long,
      counts: Map[Long, (Long, Long)], buckets: Int, batch: String): Unit = {
    import spark.implicits._
    val dir = genDir(path, g)
    val nt = counts.valuesIterator.map(_._1).sum
    val nr = counts.valuesIterator.map(_._2).sum
    val countsDf = counts.toSeq.map { case (b, (ct, cr)) => (b, ct, cr) }
      .toDF("bucket", "ct", "cr")
    // counts and ratios both derive from the driver-held map — two
    // independent writes, overlapped (guide §2.6); meta stays LAST (the
    // completion marker), so a crash during either leaves an invisible
    // meta-less partial exactly as before
    graft.core.Jobs.par(spark)(
      "dsir:counts-write" -> { () =>
        countsDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/counts")
      },
      "dsir:ratios-write" -> { () =>
        countsDf
          .select(col("bucket"),
            ratioQ(col("ct"), col("cr"), lit(nt), lit(nr), buckets).as("ratio_q"))
          .coalesce(1) // ≤ buckets narrow rows — one file serves broadcast reads
          .write.mode("overwrite").parquet(s"$dir/ratios")
      })
    // seed the counts cache with the in-memory map (exactly what
    // [[update]]'s loader reads back): the NEXT incremental update of a
    // steady-state stream pays no counts read job
    graft.core.DirCache.put(spark, s"$dir/counts", counts)
    Seq((buckets, nt, nr, defaultRatioQ(nt, nr, buckets), batch, g))
      .toDF("buckets", "nt", "nr", "default_q", "batch", "generation")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    // seed the meta cache too (same row shape a parquet read returns):
    // the post-commit readers (readMeta, the next update's replay
    // check) skip the read-back job
    val metaSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("buckets", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("nt", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("nr", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("default_q", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("generation", org.apache.spark.sql.types.LongType)))
    graft.core.DirCache.put(spark, s"$dir/meta",
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array(buckets, nt, nr, defaultRatioQ(nt, nr, buckets), batch, g), metaSchema))
  }

  /** The batch's bucket counts as a bounded driver-side map
    * (≤ `buckets` entries). ONE corpus/batch pass — a second Spark
    * action would re-run the tokenize. */
  private def collectCounts(
      docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): Map[Long, (Long, Long)] =
    bucketCounts(featureCounts(docs, idCol, textCol, isTarget, buckets))
      .collect()
      .map(r => r.getAs[Long]("bucket") -> ((r.getAs[Long]("ct"), r.getAs[Long]("cr"))))
      .toMap

  /** Hard cap on the bucketed feature space: the fitted model is a
    * driver-collected map and a broadcast ratio table, so `buckets`
    * bounds BOTH (≤ 2^20 narrow rows ≈ tens of MB — comfortably
    * collectable and broadcastable). The bucket hash is 24-bit, so
    * without this guard the API would accept a 16M-bucket model whose
    * fit/update silently rebuilds a 16M-row map on the driver; a model
    * too big to broadcast is the wrong shape regardless — reject it
    * loudly instead. */
  val MaxBuckets: Int = 1 << 20

  private[operators] def requireBuckets(buckets: Int): Unit =
    require(buckets >= 1 && buckets <= MaxBuckets,
      s"buckets must be in [1, $MaxBuckets] (the model is driver-collected " +
        s"and broadcast-served, so it must stay small), got $buckets")

  /**
   * Fit and persist the model — a from-scratch retrain (incremental
   * refreshes go through [[update]]). As crash-safe as an update: the
   * new model is written as generation (servable max + 1), so readers
   * keep serving the previous generation until the refit's meta
   * commits, and a crash mid-fit leaves only an invisible meta-less
   * partial; older generations are pruned only AFTER the commit.
   */
  def fit(
      docs: DataFrame, idCol: String, textCol: String, isTarget: Column,
      buckets: Int, path: String): Unit = {
    requireBuckets(buckets)
    val spark = docs.sparkSession
    val g = latestGen(spark, path).map(_ + 1L).getOrElse(0L)
    writeGeneration(spark, path, g,
      collectCounts(docs, idCol, textCol, isTarget, buckets), buckets, "__fit")
    pruneGensBelow(spark, path, g)
  }

  /**
   * Incremental model refresh: add a NEW batch's bucket counts to the
   * stored sufficient statistics and write the next generation —
   * O(batch) work, the corpus is never re-scanned, and because counts
   * are additive the result is EXACTLY the model [[fit]] would produce
   * on the union (spec-pinned). `batch` is the idempotency key: if the
   * servable generation already carries this label the call is a
   * replay and returns without writing (so a crashed update — which
   * leaves a meta-less, invisible partial generation — converges when
   * re-run). Serving never pauses: readers keep the previous
   * generation until the new meta commits.
   */
  def update(
      docs: DataFrame, idCol: String, textCol: String, isTarget: Column,
      path: String, batch: String): Unit = {
    require(batch.nonEmpty && batch != "__fit",
      s"batch must be a non-empty label other than the reserved __fit, got '$batch'")
    val spark = docs.sparkSession
    val g = latestGen(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no complete DSIR model at $path (meta missing — fit crashed or never ran)"))
    val m = graft.core.DirCache.cached(spark, s"${genDir(path, g)}/meta") {
      spark.read.parquet(s"${genDir(path, g)}/meta").head()
    }
    if (m.getAs[String]("batch") == batch) return // replay of the applied batch
    val buckets = m.getAs[Int]("buckets")
    val old = graft.core.DirCache.cached(spark, s"${genDir(path, g)}/counts") {
      spark.read.parquet(s"${genDir(path, g)}/counts")
        .collect()
        .map(r => r.getAs[Long]("bucket") -> ((r.getAs[Long]("ct"), r.getAs[Long]("cr"))))
        .toMap
    }
    val add = collectCounts(docs, idCol, textCol, isTarget, buckets)
    val merged = (old.keySet ++ add.keySet).iterator.map { b =>
      val (ct0, cr0) = old.getOrElse(b, (0L, 0L))
      val (ct1, cr1) = add.getOrElse(b, (0L, 0L))
      b -> ((ct0 + ct1, cr0 + cr1))
    }.toMap
    writeGeneration(spark, path, g + 1L, merged, buckets, batch)
    // best-effort prune: older generations are garbage once g+1 serves
    pruneGensBelow(spark, path, g + 1L)
  }

  /** The servable generation's geometry (buckets, nt, nr, default_q) —
    * the ONE meta reader every consumer (serving, streaming twin, SQL
    * SHOW/FIT) shares; refuses a meta-less crashed fit. */
  private[graft] def readMeta(spark: SparkSession, modelPath: String): (Int, Long, Long, Long) = {
    val m = readMetaRow(spark, modelPath)
    (m.getAs[Int]("buckets"), m.getAs[Long]("nt"), m.getAs[Long]("nr"), m.getAs[Long]("default_q"))
  }

  /** Full meta row of the servable generation (adds batch/generation
    * for the admin surface). */
  private[graft] def readMetaRow(spark: SparkSession, modelPath: String): org.apache.spark.sql.Row = {
    val g = latestGen(spark, modelPath).getOrElse(
      throw new IllegalArgumentException(
        s"no complete DSIR model at $modelPath (meta missing — fit crashed or never ran)"))
    graft.core.DirCache.cached(spark, s"${genDir(modelPath, g)}/meta") {
      spark.read.parquet(s"${genDir(modelPath, g)}/meta").head()
    }
  }

  /** The servable generation's ratio table. */
  private[graft] def ratiosOf(spark: SparkSession, modelPath: String): DataFrame = {
    val g = latestGen(spark, modelPath).getOrElse(
      throw new IllegalArgumentException(
        s"no complete DSIR model at $modelPath (meta missing — fit crashed or never ran)"))
    spark.read.parquet(s"${genDir(modelPath, g)}/ratios")
  }

  /**
   * The serving kernel over an ALREADY-LOADED ratio table: one narrow
   * tokenize pass over the batch, a broadcast join (buckets unseen at
   * fit time fall back to the smoothed default), nothing corpus-sized.
   * Emits (doc_id, doc_tokens, logw_q, logw); zero-token docs carry no
   * evidence and score logw_q = 0 rather than dropping out. The
   * streaming twin preloads the frozen model ONCE and calls this per
   * micro-batch; [[scoreWithModel]] is the load-and-score convenience.
   */
  def scoreWithRatios(
      docs: DataFrame, idCol: String, textCol: String,
      ratios: DataFrame, buckets: Int, defaultQ: Long): DataFrame = {
    docs
      .select(col(idCol).as("doc_id"), explode_outer(F.tokens(col(textCol))).as("w"))
      .select(col("doc_id"), when(col("w").isNotNull, bucket(col("w"), buckets)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(col("bucket")).as("tf")) // null bucket (zero-token doc): tf = 0
      .join(broadcast(ratios), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("doc_tokens"),
        coalesce(sum(col("tf") * coalesce(col("ratio_q"), lit(defaultQ))), lit(0L)).as("logw_q"))
      .withColumn("logw", col("logw_q").cast("double") / lit(1000000.0))
  }

  /** Serve per-doc scores from a persisted model ([[fit]]/[[update]]):
    * loads the servable generation's geometry + ratio table, then runs
    * [[scoreWithRatios]]. */
  def scoreWithModel(
      docs: DataFrame, idCol: String, textCol: String, modelPath: String): DataFrame = {
    val spark = docs.sparkSession
    val (b, _, _, defQ) = readMeta(spark, modelPath)
    scoreWithRatios(docs, idCol, textCol, ratiosOf(spark, modelPath), b, defQ)
  }
}
