package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.F
import graft.operators.Dedup

/**
 * Incremental near-duplicate detection over a document stream: the
 * production shape for deduping NEW data against an existing corpus.
 *
 * Per micro-batch (foreachBatch):
 *  1. compute minhash signatures for the batch (stateless narrow map);
 *  2. LSH-band join the batch against the PERSISTED signature index —
 *     work is |batch| × collision rate, never |corpus|²;
 *  3. emit (new_id, existing_id, est_jaccard) matches to the sink;
 *  4. append the batch's signatures to the index.
 *
 * Index-probe shuffle discipline (all variants — run, runEmbeddings,
 * runKeepBest): the banded BATCH side is broadcast and the
 * corpus-sized index SCANS through it, so the index pays zero
 * exchange and zero sort per trigger — a plain two-sided band join
 * would re-shuffle the whole index every batch, the one cost shape a
 * 100 TB corpus cannot absorb. The batch (and its banded explosion)
 * is micro-batch-bounded by the trigger, hence broadcastable by
 * construction; the per-trigger index SCAN itself is the price of the
 * flat shard layout and amortizes by batching (a bucketed index's base
 * is the scan-pruned shape for latency-critical probes).
 *
 * [[run]] writes a FLAT text index of the one text-index lifecycle
 * (see `Dedup`'s persisted text index): `<indexPath>/meta` holds the
 * geometry record ([[graft.operators.Dedup.TextIndexGeometry]]) and
 * each micro-batch adds one shard dir,
 * `<indexPath>/sigs/shard=stream_<batchId>`. Those are the shard dirs
 * the batch side appends, and a bucketed index's delta has the same
 * layout. So a corpus ingested through this stream is directly
 * probe-able with [[graft.operators.Dedup.crossJaccardPairsIndexed]],
 * inventoried by `SHOW TEXT INDEX`, and compactable with
 * [[graft.operators.Dedup.compactTextIndex]]; conversely the stream
 * can extend an index `buildTextIndex` created (its geometry then
 * comes from the meta, not this method's parameters). Batch-vs-batch
 * duplicates inside one micro-batch are caught by including the batch
 * itself in the probe (id ordering dedups).
 */
object StreamingDedup {

  /** Row bound under which an id-only side (batch ids, tombstones,
    * matched winners) is force-broadcast: ~4M ids. Batches are
    * trigger-bounded in a configured stream, but a restart backlog can
    * deliver an arbitrarily large batch, and force-broadcasting it would
    * fail the trigger and every replay. Past the bound the join falls
    * back to its shuffled form: slower, but the trigger completes. */
  private[graft] val BroadcastIdRows: Long = 1L << 22

  /** Shared LSH band-explode over minhash signatures — one definition
    * for every streaming variant (run, runKeepBest), so a banding fix
    * cannot silently diverge between them. */
  private def bandedSigs(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs
      .select(col("id"), col("sig"), explode(F.lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bh"))

  /** Micro-batch DOCUMENT bound for a force-broadcast banded probe side
    * ([[Dedup.bandedBroadcastDocs]]): each document's probe rows carry
    * the full signature/vector once per band plus ~48 B of per-row
    * struct/key overhead — a fixed row bound that assumed ~8 KB per
    * document would blow past the 8 GB broadcast hard limit for wide
    * embeddings with many bands. A restart backlog or an un-throttled
    * source can deliver an arbitrarily large batch; force-broadcasting
    * THAT would fail the trigger and every replay of it, permanently
    * wedging the stream. The bound probe is a limit+count on the CACHED
    * batch — one cheap action, never a full count of an unbounded
    * source. */
  private def bcastRowBound(fanOut: Int, payloadBytes: Long): Long =
    Dedup.bandedBroadcastDocs(math.max(1, fanOut).toLong * math.max(64L, payloadBytes + 48L))

  /** Estimated jaccard between the joined `a.sig`/`b.sig` columns. */
  private def estJaccardExpr(numHashes: Int) =
    aggregate(
      zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _
    ).cast("double") / lit(numHashes.toDouble)

  def run(
      spark: SparkSession,
      docs: DataFrame, // streaming: (doc_id long, text string)
      indexPath: String,
      matchesPath: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleSize: Int = 3,
      checkpoint: String = "/tmp/graft_streaming_dedup_ckpt"
  ): StreamingQuery = {
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        locally {
          val s = batch.sparkSession
          // Geometry from the index meta when it exists (batch-built
          // index being extended, or any batch after the stream's first):
          // signatures banded differently than the index silently match
          // nothing, so — exactly as in appendToTextIndex — the geometry
          // is data. The method's numHashes/bands/threshold parameters
          // only ever CREATE a fresh index's meta, which records the
          // implied at-threshold miss probability (1 - t^r)^b so it
          // matches the batch builder's exactly.
          val existing = Dedup.TextIndexGeometry.find(s, indexPath)
          val geom = existing.getOrElse(Dedup.TextIndexGeometry(numHashes, bands, shingleSize, threshold,
            math.pow(1.0 - math.pow(threshold, (numHashes / bands).toDouble), bands.toDouble)))
          def banded(sigs: DataFrame): DataFrame = bandedSigs(sigs, geom.bands, geom.rowsPerBand)
          val sigs = geom.sigs(batch, "doc_id", "text").cache()
          // ONE count (materializing the cache) is both the empty-batch
          // guard (the separate isEmpty probe job is gone) and the
          // broadcast-bound decision below
          val batchN = graft.core.Jobs.desc(s, "streamdedup:batch-count")(sigs.count())
          if (batchN == 0L) sigs.unpersist() else {
          val probe = banded(sigs)
          val sigsDir = s"$indexPath/sigs"
          val haveIndex = graft.core.ShardStore.anyCommitted(s, sigsDir, "shard=")
          // existing index + this batch. Index rows are tagged: a new
          // document must match an indexed duplicate REGARDLESS of id
          // order (ids carry no arrival-order guarantee — requiring
          // a.id > b.id would silently drop the pair whenever the new
          // id happens to be smaller). The ordering constraint applies
          // only WITHIN the batch, where both directions of a pair are
          // present and one must be canonical. Index copies of ids that
          // are IN this batch are excluded (broadcast anti-join on the
          // small batch id set): a replayed or re-sent batch otherwise
          // matches its members against their own index copies in BOTH
          // directions, and the replayed matches partition would not
          // converge to the clean run's content. (The anti-join subsumes
          // an own-shard partition filter: it also covers a re-SENT batch
          // arriving under a new batchId.)
          val batchIds = sigs.select(col("id"))
          // The index-probe join BROADCASTS the banded batch and streams
          // the index scan through it: the corpus-sized index side pays
          // ZERO exchange per batch (a plain two-sided band join would
          // re-shuffle the whole index every trigger — the one shape
          // that cannot survive a 100 TB corpus). The batch is
          // micro-batch-bounded by the trigger, so its banded rows are
          // broadcastable by construction; within-batch pairs come from
          // a separate batch-sized self-join. The two candidate sets
          // are disjoint (index copies of this batch's ids are
          // anti-joined out), so the union needs no cross-set dedup.
          def cand(a: DataFrame, b: DataFrame, idCond: Column): DataFrame =
            a.as("a").join(b.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && idCond)
              .select(col("a.id").as("new_id"), col("b.id").as("existing_id"),
                estJaccardExpr(geom.numHashes).as("est_jaccard"))
          val inBatch = cand(probe, probe, col("a.id") > col("b.id"))
          // oversized-batch fallback: see bcastRowBound (covers the id
          // anti-join's broadcast too — same driving row count); banded
          // text rows carry the nh-int signature per band
          val batchSmall = batchN <= bcastRowBound(geom.bands, 4L * geom.numHashes)
          // own-shard partition filter, ON TOP of the id anti-join: the
          // sigs-write below overwrites shard=stream_<batchId> while this
          // frame's scan runs in a PARALLEL driver thread (Jobs.par). On a
          // replayed batch the prior attempt's files are in the listed
          // file set, and the overwrite's delete would fail the scan
          // mid-flight (FileNotFoundException — on every replay, wedging
          // the stream). Partition pruning drops those files from the
          // scan at planning time; the rows it removes are a subset of
          // what the anti-join removes (same ids), so results are
          // unchanged. Cast: an all-numeric shard set would infer a
          // numeric partition column, and comparing THAT to a string
          // silently nulls the predicate.
          val viaIndex =
            if (haveIndex)
              cand(if (batchSmall) broadcast(probe) else probe,
                banded(s.read.parquet(sigsDir)
                  .filter(col("shard").cast("string") =!= s"stream_$batchId")
                  .select(col("id"), col("sig"))
                  .join(if (batchSmall) broadcast(batchIds) else batchIds,
                    Seq("id"), "left_anti")),
                col("a.id") =!= col("b.id"))
            else inBatch.limit(0)
          val matches = inBatch.unionByName(viaIndex)
            .filter(col("est_jaccard") >= geom.threshold)
            .distinct()
          // Idempotent per micro-batch: foreachBatch replays a batch after a
          // failure, so blind appends would double both the matches and the
          // signature index (and duplicated index rows multiply all future
          // match output). Writing each batch to its own shard/partition
          // with overwrite makes replays converge; partition discovery on
          // read reassembles the full index/matches set.
          // independent sinks (matches ← probe joins, sigs ← the cached
          // signature frame): overlapped driver threads — guide §2.6
          graft.core.Jobs.par(s)(
            "streamdedup:matches-write" -> { () =>
              matches.write.mode("overwrite").parquet(s"$matchesPath/batch_id=$batchId")
            },
            "streamdedup:sigs-write" -> { () =>
              sigs.select(col("id"), col("sig"))
                .write.mode("overwrite").parquet(s"$sigsDir/shard=stream_$batchId")
            })
          // meta LAST, and only when creating the index (first non-empty
          // batch): its presence certifies a complete, probe-able index —
          // the same written-last crash marker buildTextIndex uses
          if (existing.isEmpty) geom.write(s, indexPath)
          sigs.unpersist()
          }
        }
        ()
      }
      .start()
  }

  /**
   * Streaming semantic dedup: screen NEW embeddings against the
   * persisted vector index — the batch counterpart is
   * [[graft.operators.Dedup.semanticDedup]]. Per micro-batch:
   * hyperplane sign bits (stateless narrow map), band-probe the index
   * plus the batch itself, exact cosine verification of the (id-only)
   * candidates, then idempotent batch_id-partitioned appends of both
   * matches and (id, bits, vec) index rows. Per-batch work is
   * |batch| × collision rate, never |corpus|².
   *
   * LOW thresholds (t ≲ 0.6): threshold-sized sign banding degenerates
   * to r ≤ 2 bits per band, where band collisions approach all-pairs —
   * per-batch work would creep toward |batch| × |index| as the index
   * grows. The streaming twin of the batch dispatch kicks in instead:
   * an IVF coarse quantizer is trained ONCE on the first non-empty
   * batch (deterministic, so failure replays retrain identically),
   * persisted under `indexPath/_centroids` (underscore-prefixed —
   * invisible to the index read), and every batch probes by nearest
   * cells (`ivfProbes`-way multi-probe). Candidates stay cell-local;
   * the exact cosine verify is unchanged, so false positives remain
   * impossible and recall has the same measured cell-boundary trade as
   * [[graft.operators.Dedup.embeddingPairsIvf]]. DRIFT: the train-time
   * p95 quantization error persists beside the centroids, every batch
   * measures the fraction of its vectors landing beyond it, and past
   * `driftRetrainFraction` the quantizer re-trains on that batch
   * automatically (centroid swap is mid-stream-safe — index rows are
   * re-keyed every batch; see loadOrTrainCentroids) — so ingest cannot
   * silently degrade probe recall or melt a cell as the distribution
   * moves. Manual re-train (delete `_centroids`) still works.
   */
  def runEmbeddings(
      spark: SparkSession,
      vecs: DataFrame, // streaming: (vec_id long, embedding array<float>)
      indexPath: String,
      matchesPath: String,
      planes: Int = 0, // ≤0 = sized from the threshold (Dedup.signBanding)
      bands: Int = 0,
      threshold: Double = 0.97,
      checkpoint: String = "/tmp/graft_streaming_semdedup_ckpt",
      ivfCells: Int = 64,
      ivfProbes: Int = 3,
      // re-train when this fraction of a batch quantizes worse than the
      // train-time p95 error (same-distribution batches sit near 0.05)
      driftRetrainFraction: Double = 0.5
  ): StreamingQuery = {
    val (planes1, bands1) =
      if (planes > 0 && bands > 0) (planes, bands) else Dedup.signBanding(threshold)
    val rowsPerBand = planes1 / bands1
    // Java shifts mod 64: (1L << 64) - 1 is 0, so a single 64-bit band
    // (legal at near-1 thresholds) would hash every row to bh=0 and the
    // band join would degenerate to all-pairs — exactly what banding
    // exists to prevent (simhashBanded guards the same way)
    val mask = if (rowsPerBand >= 64) -1L else (1L << rowsPerBand) - 1L
    val lowThreshold = rowsPerBand <= 2

    def banded(sigs: DataFrame): DataFrame =
      sigs.select(
        col("id"), col("vec"),
        explode(
          transform(
            sequence(lit(0), lit(bands1 - 1)),
            bnd => struct(bnd.as("band"),
              call_function("shiftrightunsigned", col("bits"), bnd * rowsPerBand)
                .bitwiseAND(lit(mask)).as("bh"))
          )
        ).as("bk")
      ).select(col("id"), col("vec"), col("bk.band"), col("bk.bh"))

    // IVF-cell keys in the same (band, bh) column shape, so the join
    // below is identical for both candidate generators
    def cellKeyed(d: DataFrame, cents: Array[Array[Float]]): DataFrame =
      d.select(
        col("id"), col("vec"),
        explode(graft.operators.Ann.nearestCentroidsBc(col("vec"),
          graft.operators.Ann.bcastCentroids(d.sparkSession, cents), ivfProbes)).as("cell"))
        .select(col("id"), col("vec"), lit(0).as("band"), col("cell").cast("long").as("bh"))

    def trainAndPersist(s: SparkSession, batch: DataFrame,
        centsPath: org.apache.hadoop.fs.Path): Array[Array[Float]] = {
      import s.implicits._
      val cents = graft.operators.Ann.ivfTrain(
        s, batch.select(col("vec_id"), col("embedding")), numCells = ivfCells)
      // stats BEFORE centroids: a crash between the writes then leaves
      // stats-without-centroids (next batch trains fresh, both rewritten)
      // instead of centroids-without-stats, which would disable the
      // drift trigger for the index's whole lifetime
      graft.operators.Ann.dispersionStats(batch, "embedding", cents)
        .write.mode("overwrite").parquet(s"$indexPath/_centroids_stats")
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cell", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(centsPath.toString)
      // seed the loader's cache with the table just trained — the next
      // trigger's load is a listStatus, not a read job
      graft.core.DirCache.put(s, centsPath.toString, cents)
      cents
    }

    // Quantizer lifecycle with a DRIFT TRIGGER: centroids train on the
    // first non-empty batch; every later batch pays one narrow pass
    // computing the fraction of its vectors whose quantization error
    // exceeds the train-time p95. Past `driftRetrainFraction` the batch
    // re-trains and overwrites `_centroids` — safe mid-stream because
    // the low-threshold index stores raw (id, vec) rows that are
    // RE-KEYED by the current quantizer on every batch, so a centroid
    // swap changes candidate generation only; the exact-cosine verify
    // (and with it the no-false-positives guarantee) is untouched.
    // Replay-safe: a re-run of the batch sees the already-swapped
    // centroids, measures low drift, and proceeds — outputs converge
    // through the batch_id-partitioned overwrite either way.
    def loadOrTrainCentroids(s: SparkSession, batch: DataFrame): Array[Array[Float]] = {
      val centsPath = new org.apache.hadoop.fs.Path(s"$indexPath/_centroids")
      val fs = centsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(centsPath)) trainAndPersist(s, batch, centsPath)
      else {
        // centroids + train-time p95 driver-cached by dir fingerprint
        // (graft.core.DirCache): a steady-state stream re-read both as
        // Spark jobs EVERY trigger; a re-train's overwrite moves the
        // fingerprint and reloads
        val cents = graft.core.DirCache.cached(s, centsPath.toString) {
          s.read.parquet(centsPath.toString).orderBy(col("cell")).collect()
            .map(_.getSeq[Float](1).toArray)
        }
        val statsPath = new org.apache.hadoop.fs.Path(s"$indexPath/_centroids_stats")
        // missing stats beside existing centroids (legacy index, or a
        // pre-fix partial write) = cannot judge drift → re-train and
        // heal rather than leave the trigger silently disabled
        val drifted = !fs.exists(statsPath) || {
          val p95 = graft.core.DirCache.cached(s, statsPath.toString) {
            java.lang.Double.valueOf(
              s.read.parquet(statsPath.toString).head().getDouble(0))
          }.doubleValue()
          graft.operators.Ann.overP95Fraction(
            batch, "embedding", cents, p95) > driftRetrainFraction
        }
        if (drifted) trainAndPersist(s, batch, centsPath) else cents
      }
    }

    // measured vector width, cached across this stream's triggers
    var dimSeen = -1
    vecs.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        locally {
          val s = batch.sparkSession
          graft.sql.GraftFunctions.register(s)
          // hyperplane bits are the BAND-mode signature only — the cell
          // mode keys by quantizer cell and never reads them, so the
          // low-threshold index stores (id, vec) without paying a
          // planes×dim pass per row. Consequence: an index is keyed by
          // the mode (threshold regime) that wrote it.
          val sigs = {
            val base = batch.select(col("vec_id").as("id"), col("embedding").as("vec"))
            (if (lowThreshold) base
             else base.withColumn("bits", call_function("graft_hyperplane_bits", col("vec"), lit(planes1))))
              .cache()
          }
          // ONE count (materializing the cache) is both the empty-batch
          // guard (the isEmpty probe job is gone — and an empty first
          // batch can no longer reach the quantizer trainer) and the
          // broadcast-bound row count below
          val batchN = graft.core.Jobs.desc(s, "vecdedup:batch-count")(sigs.count())
          if (batchN == 0L) sigs.unpersist() else {
          val cents: Array[Array[Float]] =
            if (lowThreshold) loadOrTrainCentroids(s, batch) else Array.empty
          def keyed(d: DataFrame): DataFrame =
            if (lowThreshold) cellKeyed(d, cents) else banded(d)
          val probe = keyed(sigs)
          // index presence = at least one batch_id partition WITH data
          // (the _centroids dir written above must not read as an
          // index, nor may a crashed first batch's file-less dir)
          val haveIndex = graft.core.ShardStore.anyCommitted(s, indexPath, "batch_id=")
          // index rows match in either id direction; id ordering only
          // dedups within-batch pairs, and index copies of this batch's
          // ids are excluded (replay convergence — see run() above)
          val batchIds = sigs.select(col("id"))
          // broadcast-probe discipline (see run() above): the
          // corpus-sized index streams through the broadcast banded/
          // cell-keyed batch with ZERO exchange per trigger; in-batch
          // pairs come from a batch-sized self-join, and the two sets
          // are disjoint (index copies of batch ids anti-joined out)
          def cand(a: DataFrame, b: DataFrame, idCond: Column): DataFrame =
            a.as("a").join(b.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && idCond)
              .select(col("a.id").as("new_id"), col("b.id").as("existing_id"),
                call_function("graft_cosine", col("a.vec"), col("b.vec")).as("cos"))
          val inBatch = cand(probe, probe, col("a.id") > col("b.id"))
          // oversized-batch fallback: see bcastRowBound. The banded rows
          // carry the FULL vector per band/cell, so the bound scales with
          // the measured vector width (one cheap head() on the cached
          // batch), not an assumed one — a 1024-dim corpus broadcasts
          // ~16× fewer docs than a 64-dim one instead of failing at the
          // same row count
          // vector width measured ONCE per stream (constant for a
          // corpus): a per-trigger head() job bought nothing after the
          // first batch
          val dim = {
            if (dimSeen < 0) dimSeen = sigs.select(size(col("vec")).as("d")).head().getInt(0)
            dimSeen
          }
          val fanOut = if (lowThreshold) ivfProbes else bands1
          val batchSmall = batchN <= bcastRowBound(fanOut, 4L * dim)
          // own-partition filter on top of the id anti-join: the parallel
          // sigs-write overwrites batch_id=<batchId> while this scan runs
          // (run()'s replay-race discipline — prunes the prior attempt's
          // files from the scan; removed rows are a subset of the
          // anti-joined ids, so results are unchanged)
          val viaIndex =
            if (haveIndex)
              cand(if (batchSmall) broadcast(probe) else probe,
                keyed(s.read.parquet(indexPath)
                  .filter(col("batch_id") =!= batchId)
                  .join(if (batchSmall) broadcast(batchIds) else batchIds,
                    Seq("id"), "left_anti")),
                col("a.id") =!= col("b.id"))
            else inBatch.limit(0)
          val matches = inBatch.unionByName(viaIndex)
            .filter(col("cos") >= threshold)
            .distinct()
          // replay-safe: see the batch_id-partition note in run() above.
          // independent sinks overlapped (guide §2.6)
          graft.core.Jobs.par(s)(
            "vecdedup:matches-write" -> { () =>
              matches.write.mode("overwrite").parquet(s"$matchesPath/batch_id=$batchId")
            },
            "vecdedup:sigs-write" -> { () =>
              sigs.write.mode("overwrite").parquet(s"$indexPath/batch_id=$batchId")
            })
          sigs.unpersist()
          }
        }
        ()
      }
      .start()
  }

  /**
   * Quality-aware streaming retention — the foreachBatch twin of
   * [[graft.operators.Dedup.dedupKeepBest]]. The persisted index holds
   * one signature per retained REPRESENTATIVE (not per document), each
   * carrying its quality score; per micro-batch:
   *
   *  1. within-batch near-dup clusters resolve by batch-local
   *     keep-best (the exact batch operator — highest score, min-id
   *     tie-break, NaN → NULL);
   *  2. each batch winner LSH-probes the ACTIVE representative index
   *     (index minus tombstones). A winner matching a rep either loses
   *     to it (kept=false, attributed to the rep) or — the case plain
   *     min-id streaming dedup gets WRONG — beats it on quality: the
   *     old rep is tombstoned, the winner becomes the cluster's
   *     indexed rep, and the demotion is recorded;
   *  3. unmatched winners are indexed as new reps.
   *
   * Every sink is batch_id-partitioned overwrite (replay-idempotent);
   * the index is append-only + tombstones (`<indexPath>_retired`), so replacement
   * needs no in-place rewrite — HDFS/S3-friendly. Matching future
   * batches against the REPLACED (better) rep is the point: the
   * cluster's probe surface follows its best member. Transitivity is
   * rep-chained (a future doc matches the current rep, not every
   * historical member) — the standard streaming approximation; the
   * batch operator remains the exact form.
   *
   * Decision rows (`decisionsPath`): (doc_id, kept, rep_id, score) per
   * batch doc, plus a kept=false row re-attributing a DEMOTED rep to
   * its replacement — a consumer can reconstruct current retention by
   * taking each doc's latest decision.
   */
  def runKeepBest(
      spark: SparkSession,
      docs: DataFrame, // streaming: (doc_id long, text string)
      score: org.apache.spark.sql.Column, // per-doc quality, evaluated on the batch
      indexPath: String,
      decisionsPath: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      checkpoint: String = "/tmp/graft_streaming_keepbest_ckpt"
  ): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        keepBestBatch(batch, batchId, score, indexPath, decisionsPath,
          numHashes, bands, threshold)
      }
      .start()

  /** One [[runKeepBest]] micro-batch — extracted so the replay path
    * (same batchId twice, with the first attempt's partial writes on
    * disk) is directly testable. */
  private[graft] def keepBestBatch(
      batch: DataFrame,
      batchId: Long,
      score: org.apache.spark.sql.Column,
      indexPath: String,
      decisionsPath: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5
  ): Unit = {
    val rowsPerBand = numHashes / bands
    def banded(sigs: DataFrame): DataFrame = bandedSigs(sigs, bands, rowsPerBand)
    def estJaccard = estJaccardExpr(numHashes)
    // tombstone log lives beside the index (sibling dir, same FS)
    val retiredPath = indexPath + "_retired"
    locally {
          val s = batch.sparkSession
          def haveParts(path: String): Boolean =
            graft.core.ShardStore.anyCommitted(s, path, "batch_id=")
          // NaN scores normalize to NULL here once — every comparison
          // below (batch-local and vs-index) then shares the batch
          // operator's discipline (NULL loses to any real score)
          val scored = batch
            .withColumn("__score", when(!isnan(score.cast("double")), score.cast("double")))
            .cache()
          // ONE batch-size count (materializes the cache it reads) serves
          // every broadcast-bound decision below: the batch-ids anti-join
          // bound directly, and the winner bound conservatively (winners
          // ⊆ batch, so batch small ⇒ winners small) — replacing two
          // limit-probe jobs per trigger
          val batchN = graft.core.Jobs.desc(s, "keepbest:batch-count")(scored.count())
          // the count doubles as the empty-batch guard — the separate
          // isEmpty probe job this trigger used to pay is gone
          if (batchN == 0L) { scored.unpersist(); return }
          // __score rides the signature pass (one narrow map) instead of
          // a post-hoc join back onto `scored` — one less exchange per
          // trigger; batch ids are unique per the stream contract, so the
          // old 1:1 join attached exactly this column
          val sigs = Dedup.minhashSigsKeep(scored, "doc_id", "text", numHashes, 3,
            Seq("__score")).cache()
          val probe = banded(sigs)

          // 1. batch-local clusters → keep-best winners
          val batchPairs = probe.as("a")
            .join(probe.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
                col("a.id") < col("b.id"))
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"), estJaccard.as("ej"))
            .filter(col("ej") >= threshold)
            .select(col("id_a"), col("id_b"))
            .distinct()
          // Batch-local keep-best, DRIVER-RESOLVED for bounded batches
          // (r17): the distributed dedupKeepBest already collects the
          // edge list to the driver (connectedComponents' small-graph
          // path) and then pays cluster-join + two aggregations + two
          // joins of Spark stages per trigger to pick winners for a
          // micro-batch-bounded doc set. With the batch count in hand,
          // collect (doc_id, score) too — same pass the cache holds —
          // and resolve clusters AND winners in one driver union-find,
          // exactly the small-graph discipline. Past the bound (restart
          // backlog, collision storm) the distributed operator runs
          // unchanged, so an unbounded batch never ships to the driver.
          // Policy is byte-identical to dedupKeepBest: union by min id,
          // best = max non-NULL score, NULL loses to any real score,
          // min-id tie-break, all-NULL clusters keep min id, singletons
          // keep themselves.
          val localBound = 1L << 20
          val local = graft.core.Jobs.desc(s, "keepbest:local-cc") {
            val edges =
              if (batchN <= localBound)
                batchPairs.limit(localBound.toInt + 1).collect()
              else Array.empty[org.apache.spark.sql.Row]
            if (batchN <= localBound && edges.length <= localBound) {
              val docs = scored.select(col("doc_id"), col("__score")).collect()
              val parent = scala.collection.mutable.HashMap.empty[Long, Long]
              def find(x: Long): Long = {
                var r = x
                while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
                var c = x
                while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
                r
              }
              edges.foreach { e =>
                val (ru, rv) = (find(e.getLong(0)), find(e.getLong(1)))
                if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
              }
              // per cluster: best non-NULL score (None when all NULL),
              // then min id among members whose score null-safe-equals it
              case class Best(var score: Option[Double], var id: Long)
              val best = scala.collection.mutable.HashMap.empty[Long, Best]
              docs.foreach { d =>
                val id = d.getLong(0)
                // -0.0 folds into 0.0: SQL compares them equal (so
                // dedupKeepBest ties them to the min id), Double.compare
                // would not
                val sc = if (d.isNullAt(1)) None else Some(d.getDouble(1) + 0.0)
                val root = find(id)
                best.get(root) match {
                  case None => best(root) = Best(sc, id)
                  case Some(b) =>
                    val cmp = (sc, b.score) match {
                      case (Some(a2), Some(b2)) => java.lang.Double.compare(a2, b2)
                      case (Some(_), None) => 1
                      case (None, Some(_)) => -1
                      case (None, None) => 0
                    }
                    if (cmp > 0 || (cmp == 0 && id < b.id)) { b.score = sc; b.id = id }
                }
              }
              val schema = org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
                org.apache.spark.sql.types.StructField("keep_id", org.apache.spark.sql.types.LongType, nullable = false),
                org.apache.spark.sql.types.StructField("keep", org.apache.spark.sql.types.BooleanType, nullable = false),
                org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType, nullable = true)))
              val rows = docs.map { d =>
                val id = d.getLong(0)
                val keepId = best(find(id)).id
                org.apache.spark.sql.Row(
                  id, keepId, id == keepId,
                  if (d.isNullAt(1)) null else java.lang.Double.valueOf(d.getDouble(1)))
              }
              s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
            } else
              Dedup.dedupKeepBest(
                scored.select(col("doc_id"), col("__score")), "doc_id", col("__score"), batchPairs)
                .cache()
          }
          val winners = local.filter(col("keep"))
            .select(col("doc_id").as("id"), col("score").as("new_score"))
            .join(sigs.select(col("id"), col("sig")), Seq("id"))
          val losers = local.filter(!col("keep"))
            .select(col("doc_id"), col("keep_id"), col("score"))

          // 2. winners probe the ACTIVE rep index (index minus tombstones),
          // producing each winner's best-matching rep (or nothing).
          val matched0 =
            if (!haveParts(indexPath)) winners.limit(0)
              .select(col("id"), lit(0L).as("rep_id"), lit(0.0).as("rep_score"))
            else {
              // minus tombstones, minus index copies of THIS batch's ids
              // (a replayed batch must not self-match the copies its
              // failed attempt already indexed — run()'s discipline)
              // ids-only broadcast — bigger bound than the banded-sig
              // sides (8B/row); falls back to the shuffled anti-join on
              // a backlog-sized batch instead of failing the trigger
              val batchDocIds = scored.select(col("doc_id").as("id"))
              // own-partition filter on top of the id anti-join: the
              // parallel index-write overwrites batch_id=<batchId> while
              // the decisions/retired sinks materialize this lineage
              // (run()'s replay-race discipline — prunes the prior
              // attempt's files from the scan; removed rows are a subset
              // of the anti-joined ids, so results are unchanged; the
              // retired read below is already pruned by its own
              // batch_id =!= filter)
              val idx = s.read.parquet(indexPath)
                .filter(col("batch_id") =!= batchId)
                .join(
                  if (batchN <= BroadcastIdRows) broadcast(batchDocIds) else batchDocIds,
                  Seq("id"), "left_anti")
              // tombstones EXCLUDING this batch's own partition: a
              // replayed batch whose failed attempt already tombstoned
              // a rep would otherwise see that rep as inactive, not
              // re-match it, and then overwrite the tombstone partition
              // with an empty one — resurrecting the demoted rep beside
              // its replacement (two active reps for one cluster)
              // tombstone ids ride broadcast (a shuffled anti-join would
              // re-exchange the corpus-sized index per batch) — but the
              // log is CUMULATIVE (one id per replaced rep, forever), so
              // a long-running high-churn stream could outgrow the
              // broadcast limit and wedge every subsequent trigger.
              // Past ~4M ids the anti-join falls back to the shuffled
              // form: the index re-exchanges (slow) but the trigger
              // completes; the durable fix at that size is folding
              // tombstones into the index (compaction).
              val active =
                if (haveParts(retiredPath)) {
                  val retired = s.read.parquet(retiredPath)
                    .filter(col("batch_id") =!= batchId).select(col("id"))
                  // tombstone-log size from parquet FOOTERS (driver-side,
                  // no job; one id row per retired rep). The count
                  // includes this batch's own partition on a replay —
                  // a conservative overcount that can only fall back to
                  // the shuffled form early, never broadcast too much.
                  val retiredN = graft.core.DirCache.parquetRowCount(s, retiredPath)
                  idx.join(
                    if (retiredN <= BroadcastIdRows) broadcast(retired) else retired,
                    Seq("id"), "left_anti")
                } else idx
              // broadcast-probe discipline (run()'s scaladoc): the banded
              // batch winners broadcast, the corpus-sized rep index
              // streams through with ZERO exchange per trigger
              // (oversized-batch fallback: see bcastRowBound; winner rows
              // carry the nh-int signature per band)
              val winSmall = batchN <= bcastRowBound(bands, 4L * numHashes)
              def maybeBcast(d: DataFrame): DataFrame =
                if (winSmall) broadcast(d) else d
              val m = maybeBcast(banded(winners.select(col("id"), col("sig")))).as("a")
                .join(banded(active.select(col("id"), col("sig"))).as("b"),
                  col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
                .select(col("a.id").as("id"), col("b.id").as("rep_id"), estJaccard.as("ej"))
                .filter(col("ej") >= threshold)
                .distinct()
              // best-matching rep per winner: max similarity, min-id tie
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col("id")).orderBy(col("ej").desc, col("rep_id").asc)
              // the matched set is winner-bounded — broadcast it so the
              // rep_score attach streams the index instead of shuffling it
              // (new_score re-attaches via the wcat left join below, so
              // the old winners re-join here is gone)
              maybeBcast(
                m.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1))
                .join(active.select(col("id").as("rep_id"), col("__score").as("rep_score")),
                  Seq("rep_id"))
                .select(col("id"), col("rep_id"), col("rep_score"))
            }
          // 3. ONE decision pass (r17 fuse): each winner left-joins its
          // best-matching rep and resolves to a category — `new` (no
          // active rep matched), `replace` (beats its rep), `lose`. All
          // three sinks below are filters/projections of this single
          // cached frame. The previous shape re-derived unmatched/
          // replacing/losing as an anti-join plus two filters over a
          // cached `matched`, unioned three join subtrees per decision
          // consumer, and re-joined sigs for the replacing reps —
          // ~100 AQE stage-jobs per trigger, the round-16 profile's
          // biggest remaining count. Semantics are unchanged: matched
          // ids are winner-unique (row_number == 1 upstream), so the
          // left join preserves the winner multiset; rep ids are never
          // NULL, so `rep_id IS NULL` is exactly the old anti-join; a
          // NULL-vs-NULL score comparison still loses (the old
          // !coalesce(beats, false) branch).
          val beats = (col("rep_score").isNull && col("new_score").isNotNull) ||
            col("new_score") > col("rep_score")
          // matched ⊆ winners ⊆ batch: the batch count bounds the
          // broadcast (backlog-sized batches fall back to a shuffled join
          // rather than failing the trigger)
          val matchedSide = matched0
          val wcat = winners
            .join(if (batchN <= BroadcastIdRows) broadcast(matchedSide) else matchedSide,
              Seq("id"), "left")
            .withColumn("cat",
              when(col("rep_id").isNull, lit("new"))
                .when(beats, lit("replace"))
                .otherwise(lit("lose")))
            .cache()

          // sinks — all batch_id-partitioned overwrites, all filters of wcat
          val newReps = wcat.filter(col("cat") =!= "lose")
            .select(col("id"), col("sig"), col("new_score").as("__score"))
          val winnerDecisions = wcat.select(
            col("id").as("doc_id"),
            (col("cat") =!= "lose").as("kept"),
            when(col("cat") === "lose", col("rep_id")).otherwise(col("id")).as("rep_id"),
            col("new_score").as("score"))
          val demotions = wcat.filter(col("cat") === "replace")
            .select(col("rep_id").as("doc_id"), lit(false).as("kept"),
              col("id").as("rep_id"), col("rep_score").as("score"))
          val loserDecisions = losers
            .join(wcat.select(
              col("id").as("keep_id"),
              when(col("cat") === "lose", col("rep_id")).otherwise(col("id")).as("rep_id")),
              Seq("keep_id"))
            .select(col("doc_id"), lit(false).as("kept"), col("rep_id"), col("score"))
          // the three sinks share no lineage beyond cached frames —
          // overlapped driver threads back-fill each other's stage
          // tails instead of paying three sequential job latencies
          graft.core.Jobs.par(s)(
            "keepbest:decisions-write" -> { () =>
              winnerDecisions.unionByName(demotions).unionByName(loserDecisions)
                .write.mode("overwrite").parquet(s"$decisionsPath/batch_id=$batchId")
            },
            "keepbest:retired-write" -> { () =>
              wcat.filter(col("cat") === "replace").select(col("rep_id").as("id"))
                .write.mode("overwrite").parquet(s"$retiredPath/batch_id=$batchId")
            },
            "keepbest:index-write" -> { () =>
              newReps.write.mode("overwrite").parquet(s"$indexPath/batch_id=$batchId")
            })
          wcat.unpersist()
          local.unpersist()
          sigs.unpersist()
          scored.unpersist()
          ()
    }
  }
}
