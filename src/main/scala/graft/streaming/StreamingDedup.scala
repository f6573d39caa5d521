package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import graft.sql.GraftFunctions
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BooleanType, StructType}
import graft.core.{DirCache, Jobs, ShardStore}
import graft.functions.F
import graft.functions.expressions.{BroadcastBandProbe, BroadcastLookup}
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
 * Trigger discipline — one core ([[trigger]] and [[Batch]]) for every
 * variant (run, runEmbeddings, and runKeepBest's rep probe):
 *  - ONE job sizes the batch (`<label>:batch-count`) and is the
 *    empty-batch guard (an empty batch writes nothing). For run and
 *    runEmbeddings it is a `limit(bound + 1)` collect of the batch's
 *    ids at [[DriverPathRows]] (or the keyed probe's broadcast bound,
 *    if smaller): a batch within it takes the DRIVER PATH — its rows
 *    are collected (`<label>:batch-collect`) into a driver-local
 *    frame, and the keyed rows ship once as a broadcast bh → rows map
 *    that the batch's own rows and the index scan look up, so a
 *    trigger runs the two collects, the matches exchange and write,
 *    and the signature write, with no join job. Past the bound (and
 *    always for keep-best) the batch is cached and counted once, and
 *    the joins below run; the sizing collect pulled only ids.
 *  - Within-batch pairs pair each batch row with the batch rows sharing
 *    a band key, in id order, so each pair appears once.
 *  - The index probe BROADCASTS the keyed batch and the corpus-sized
 *    index SCANS through it: zero exchange and zero sort on the index
 *    side per trigger. A plain two-sided band join would re-shuffle the
 *    whole index every batch — the one cost shape a 100 TB corpus
 *    cannot absorb. The per-trigger index SCAN itself is the price of
 *    the flat shard layout and amortizes by batching (a bucketed
 *    index's base is the scan-pruned shape for latency-critical probes).
 *  - Broadcast bounds: a restart backlog or an un-throttled source can
 *    deliver an arbitrarily large batch, and force-broadcasting THAT
 *    would fail the trigger and every replay of it, permanently wedging
 *    the stream. Past [[bcastRowBound]] (keyed batch rows) or
 *    [[BroadcastIdRows]] (id-only sides) a join falls back to its
 *    shuffled form: slower, but the trigger completes.
 *  - Index rows match in either id direction: ids carry no
 *    arrival-order guarantee, and requiring a.id > b.id would silently
 *    drop a pair whenever the new id happens to be smaller. Index copies
 *    of the batch's own ids are anti-joined out, so a replayed or
 *    re-sent batch (even under a new batchId) never matches its own
 *    earlier copies, and the in-batch and index candidate sets are
 *    disjoint — their union needs no cross-set dedup.
 *  - Own-partition filter, on top of the id anti-join: the sinks
 *    overwrite this batch's own partition while the probe's scan runs
 *    in a parallel driver thread, so on a replay the overwrite would
 *    delete the prior attempt's files under the scan
 *    (FileNotFoundException on every replay, wedging the stream).
 *    Partition pruning drops those files at planning time; the rows it
 *    removes are a subset of what the anti-join removes, so results are
 *    unchanged.
 *  - Sinks are partition overwrites (`batch_id=<id>`,
 *    `shard=stream_<id>`): foreachBatch replays a batch after a
 *    failure, blind appends would double the matches and the index
 *    (and duplicated index rows multiply all future match output), and
 *    partition discovery on read reassembles the full set. Independent
 *    sinks run overlapped on driver threads ([[graft.core.Jobs.par]])
 *    under `<label>:<sink>-write` job labels.
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
 * comes from the meta, not this method's parameters).
 */
object StreamingDedup {

  /** Row bound under which an id-only side (batch ids, tombstones,
    * matched winners) is force-broadcast: ~4M ids. */
  private[graft] val BroadcastIdRows: Long = 1L << 22

  /** Row bound of a driver-path micro-batch ([[trigger]], and
    * [[StreamingVectorAdmit]]'s admission), far under every broadcast
    * bound: past it `run`'s driver path loses to the distributed one.
    * One trigger over an index of as many rows, 4 local cores, driver
    * vs distributed ms: `run` (16 × 64 minhash) 1,528 vs 1,897 at 2,000
    * docs, 1,921 vs 2,338 at 4,000, 3,356 vs 3,001 at 8,000 and 5,438 vs
    * 4,358 at 16,000; `runEmbeddings` (64 dims, threshold 0.9) and
    * vector admission (64 dims) still won at 8,000. At this bound a
    * batch holds a few MB on the driver (~1.4 KB per collected row). */
  private[streaming] val DriverPathRows: Long = 1L << 12

  /** Micro-batch DOCUMENT bound for a force-broadcast keyed probe side
    * ([[Dedup.bandedBroadcastDocs]]): each document's probe rows carry
    * the full signature/vector once per band plus ~48 B of per-row
    * struct/key overhead — a fixed row bound that assumed ~8 KB per
    * document would blow past the 8 GB broadcast hard limit for wide
    * embeddings with many bands. */
  private[streaming] def bcastRowBound(fanOut: Int, payloadBytes: Long): Long =
    Dedup.bandedBroadcastDocs(math.max(1, fanOut).toLong * math.max(64L, payloadBytes + 48L))

  /** One trigger: a non-empty batch's `sinks` run overlapped under
    * `<label>:<sink>-write` labels; returns whether the batch was
    * non-empty. With a [[Local]] offer, ONE `limit(bound + 1)` collect of
    * the batch's ids (`<label>:batch-count`) is the empty guard, the
    * count and the path choice, and pulls no payload: a batch of at most
    * `bound` rows is then collected with its band keys
    * (`<label>:batch-collect`) and runs its sinks over a driver-local
    * frame of those rows. Otherwise `rows` is cached and counted once,
    * and every frame cached through the [[Batch]] is released
    * afterwards. */
  private def trigger(label: String, batchId: Long, rows: DataFrame, idCol: String = "id",
      local: Option[Local] = None)(sinks: Batch => Seq[(String, () => Unit)]): Boolean = {
    val s = rows.sparkSession
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(d: DataFrame): DataFrame = { held += d; d.cache() }
    def write(b: Batch): Boolean = {
      Jobs.par(s)(sinks(b).map { case (sink, w) => s"$label:$sink-write" -> w }: _*)
      true
    }
    val sized = local.map(l => l -> Jobs.desc(s, s"$label:batch-count")(
      l.rows.select(col(idCol)).limit(math.min(l.bound, Int.MaxValue - 1L).toInt + 1).collect().length))
    try sized match {
      case Some((_, 0)) => false
      case Some((l, n)) if n <= l.bound =>
        import scala.jdk.CollectionConverters._
        val keyed = l.rows.withColumn("__keys", l.keys())
        val r = Jobs.desc(s, s"$label:batch-collect")(keyed.collect())
        val at = keyed.schema.fieldIndex("__keys")
        val data = r.map(x => Row.fromSeq(x.toSeq.patch(at, Nil, 1)))
        // a null vector has no key (a null array, or null band hashes):
        // it probes nothing, as the distributed path's explode and join
        val keys = r.map(x => if (x.isNullAt(at)) Nil else x.getSeq[Row](at).collect {
          case k if k != null && !k.isNullAt(1) => (k.getInt(0), k.getLong(1))
        })
        val frame = s.createDataFrame(data.toSeq.asJava, StructType(keyed.schema.patch(at, Nil, 1)))
        r.nonEmpty && write(new Batch(frame, idCol, r.length, hold, Some(Held(data, keys))))
      case _ =>
        val cached = hold(rows)
        val n = Jobs.desc(s, s"$label:batch-count")(cached.count())
        n > 0 && write(new Batch(cached, idCol, n, hold, None))
    } finally held.foreach(_.unpersist())
  }

  /** A driver-path offer for [[trigger]]: the batch's `rows` (unspread),
    * `keys` (their band-key column, built only once the batch is known
    * to be non-empty) and the most rows the driver path takes. */
  private final case class Local(rows: DataFrame, keys: () => Column, bound: Long)

  /** A driver-path batch's collected rows and each row's band keys. */
  private final case class Held(rows: Array[Row], keys: Array[Seq[(Int, Long)]])

  /** A non-empty micro-batch inside [[trigger]]: its `rows` (cached, or
    * a driver-local frame of the `held` rows), their count `n`, and
    * `cache`, which caches a frame until the trigger's sinks have run. */
  private final class Batch(val rows: DataFrame, idCol: String, val n: Long,
      val cache: DataFrame => DataFrame, held: Option[Held]) {
    def s: SparkSession = rows.sparkSession

    /** Rows of the committed index under `dir` outside this trigger's
      * own partition `own` (the `key=value` dir its sink overwrites);
      * None before the index's first commit. The schema comes from one
      * footer ([[DirCache.parquetSchema]]), so the read runs no
      * schema-inference job. Cast: an all-numeric shard set would infer
      * a numeric partition column, and comparing THAT to a string
      * silently nulls the predicate. */
    def committed(dir: String, own: String): Option[DataFrame] = {
      val Array(key, value) = own.split("=", 2)
      if (!ShardStore.anyCommitted(s, dir, key + "=")) None
      else Some(DirCache.reader(s, dir).parquet(dir).filter(col(key).cast("string") =!= value))
    }

    /** [[committed]] minus index copies of this batch's ids: a lookup in
      * a broadcast set of the held ids on the driver path, else an
      * anti-join with the id side broadcast when `idsSmall`. */
    def index(dir: String, own: String, idsSmall: Boolean): Option[DataFrame] =
      committed(dir, own).map { c =>
        held match {
          case Some(h) =>
            val at = rows.schema.fieldIndex(idCol)
            val idType = rows.schema(at).dataType
            val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
            val set = new java.util.HashMap[Any, Any]()
            h.rows.foreach(r => if (!r.isNullAt(at)) set.put(toCatalyst(r.get(at)), true))
            c.filter(BroadcastLookup.column(s, col("id").cast(idType), set, BooleanType).isNull)
          case None =>
            val ids = rows.select(col(idCol).as("id"))
            c.join(if (idsSmall) broadcast(ids) else ids, Seq("id"), "left_anti")
        }
      }

    /** Matches of `probe` ((id, `payload`…) rows) under the band keys
      * `keys` (an array<struct<band int, bh long>> over its columns):
      * against itself in id order when `inBatch`, and against `index` in
      * either id direction; `sim` (over `a.*`/`b.*`, `a` the probe side)
      * at least `threshold`, distinct. Columns: (new_id, existing_id,
      * `simName`).
      *
      * On the driver path the probe is the batch's own rows: they ship
      * once as a broadcast band table that the batch rows and the index
      * scan probe ([[BroadcastBandProbe]]), with no join and so no
      * broadcast or exchange job of their own. Otherwise the keyed probe
      * joins both sides, broadcast when `small`. */
    def matches(probe: DataFrame, index: Option[DataFrame], keys: Column, payload: Seq[String],
        simName: String, sim: Column, threshold: Double, small: Boolean,
        inBatch: Boolean = true): DataFrame = {
      val carried = col("id") +: payload.map(col)
      def out(pairs: DataFrame) =
        pairs.select(col("a.id").as("new_id"), col("b.id").as("existing_id"), sim.as(simName))
      val pairs = held match {
        case Some(h) =>
          require(probe eq rows, "the driver path probes with the batch's own rows")
          val at = ("id" +: payload).map(rows.schema.fieldIndex)
          val probed = BroadcastBandProbe.column(s, keys, h.rows.map(r => Row.fromSeq(at.map(r.get))).toSeq,
            h.keys.toSeq, StructType(at.map(rows.schema(_))))
          def viaTable(scan: DataFrame, idCond: Column): DataFrame =
            out(scan.select(struct(carried: _*).as("b"), explode(probed).as("a")).filter(idCond))
          (if (inBatch) Seq(viaTable(probe, col("a.id") > col("b.id"))) else Nil) ++
            index.map(viaTable(_, col("a.id") =!= col("b.id")))
        case None =>
          def keyed(d: DataFrame): DataFrame = d.select(carried :+ explode(keys).as("bk"): _*)
            .select(carried ++ Seq(col("bk.band").as("band"), col("bk.bh").as("bh")): _*)
          def cand(a: DataFrame, b: DataFrame, idCond: Column): DataFrame =
            out(a.as("a").join(b.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && idCond))
          val kp = keyed(probe)
          (if (inBatch) Seq(cand(kp, kp, col("a.id") > col("b.id"))) else Nil) ++
            index.map(i => cand(if (small) broadcast(kp) else kp, keyed(i), col("a.id") =!= col("b.id")))
      }
      pairs.reduce(_ unionByName _)
        .filter(col(simName) >= threshold)
        .distinct()
    }
  }

  def run(
      spark: SparkSession,
      docs: DataFrame, // streaming: (doc_id long, text string)
      indexPath: String,
      matchesPath: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleSize: Int = 3,
      checkpoint: String
  ): StreamingQuery =
    ForeachBatch.start(docs, checkpoint) { (batch, batchId) =>
      runBatch(batch, batchId, indexPath, matchesPath, numHashes, bands, threshold, shingleSize)
    }

  /** One [[run]] micro-batch. `localMax` caps the driver path's row
    * bound: specs pass 0 to force the distributed side. */
  private[graft] def runBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      matchesPath: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleSize: Int = 3,
      localMax: Long = Long.MaxValue
  ): Unit = {
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
    val sigsDir = s"$indexPath/sigs"
    val own = s"shard=stream_$batchId"
    // banded text rows carry the nh-int signature per band
    val bound = bcastRowBound(geom.bands, 4L * geom.numHashes)
    val keys = F.lshBandKeys(col("sig"), geom.bands, geom.rowsPerBand)
    // the driver path's signatures skip the round-robin spread: a
    // bounded batch is collected, not shuffled
    val local = Local(geom.sigs(batch, "doc_id", "text", spread = false), () => keys,
      Seq(bound, DriverPathRows, localMax).min)
    val nonEmpty = trigger("streamdedup", batchId, geom.sigs(batch, "doc_id", "text"), local = Some(local)) { b =>
      val small = b.n <= bound
      val matches = b.matches(b.rows,
        b.index(sigsDir, own, small).map(_.select(col("id"), col("sig"))), keys, Seq("sig"), "est_jaccard",
        F.estJaccard(col("a.sig"), col("b.sig"), geom.numHashes), geom.threshold, small)
      Seq(
        "matches" -> { () =>
          matches.write.mode("overwrite").parquet(s"$matchesPath/batch_id=$batchId")
        },
        "sigs" -> { () =>
          b.rows.select(col("id"), col("sig")).write.mode("overwrite").parquet(s"$sigsDir/$own")
        })
    }
    // meta LAST, and only when creating the index (first non-empty
    // batch): its presence certifies a complete, probe-able index —
    // the same written-last crash marker buildTextIndex uses
    if (nonEmpty && existing.isEmpty) geom.write(s, indexPath)
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
      checkpoint: String,
      ivfCells: Int = 64,
      ivfProbes: Int = 3,
      // re-train when this fraction of a batch quantizes worse than the
      // train-time p95 error (same-distribution batches sit near 0.05)
      driftRetrainFraction: Double = 0.5
  ): StreamingQuery =
    ForeachBatch.start(vecs, checkpoint)(embeddingsBatches(indexPath, matchesPath, planes, bands,
      threshold, ivfCells, ivfProbes, driftRetrainFraction))

  /** [[runEmbeddings]]'s foreachBatch body, one per stream (it keeps the
    * stream's measured vector width). `localMax` caps the driver path's
    * row bound: specs pass 0 to force the distributed side. */
  private[graft] def embeddingsBatches(
      indexPath: String,
      matchesPath: String,
      planes: Int = 0,
      bands: Int = 0,
      threshold: Double = 0.97,
      ivfCells: Int = 64,
      ivfProbes: Int = 3,
      driftRetrainFraction: Double = 0.5,
      localMax: Long = Long.MaxValue
  ): (DataFrame, Long) => Unit = {
    val (planes1, bands1) =
      if (planes > 0 && bands > 0) (planes, bands) else Dedup.signBanding(threshold)
    val rowsPerBand = planes1 / bands1
    val lowThreshold = rowsPerBand <= 2

    // band keys over the sign bits, and IVF-cell keys in the same
    // (band, bh) shape, so the probe below is identical for both
    // candidate generators
    val bitKeys = graft.functions.F.signBandKeys(col("bits"), bands1, rowsPerBand)
    def cellKeys(s: SparkSession, cents: Array[Array[Float]]): Column =
      transform(graft.operators.Ann.nearestCentroids(col("vec"),
        graft.operators.Ann.bcastTable(s, cents), ivfProbes),
        c => struct(lit(0).as("band"), c.cast("long").as("bh")))

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
    (batch, batchId) => {
      val s = batch.sparkSession
      // hyperplane bits are the BAND-mode signature only — the cell
      // mode keys by quantizer cell and never reads them, so the
      // low-threshold index stores (id, vec) without paying a
      // planes×dim pass per row. Consequence: an index is keyed by
      // the mode (threshold regime) that wrote it.
      val base = batch.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val rows =
        if (lowThreshold) base
        else base.withColumn("bits", GraftFunctions.call("graft_hyperplane_bits", col("vec"), lit(planes1)))
      val own = s"batch_id=$batchId"
      // the keyed rows carry the FULL vector per band/cell, so the
      // broadcast bound scales with the measured vector width — a
      // 1024-dim corpus broadcasts ~16× fewer docs than a 64-dim one
      // instead of failing at the same row count. Measured ONCE per
      // stream (constant for a corpus): a per-trigger head() job
      // bought nothing after the first batch. Null vectors carry no
      // width; an empty or all-null batch measures nothing.
      if (dimSeen < 0)
        base.filter(col("vec").isNotNull).select(size(col("vec"))).limit(1).collect()
          .headOption.foreach(r => dimSeen = r.getInt(0))
      val bound = bcastRowBound(if (lowThreshold) ivfProbes else bands1, 4L * dimSeen)
      // built once the trigger has found the batch non-empty, so an
      // empty batch never reaches the quantizer trainer
      lazy val keys = if (!lowThreshold) bitKeys else cellKeys(s, loadOrTrainCentroids(s, batch))
      val local = Local(rows, () => keys, Seq(bound, DriverPathRows, localMax).min)
      trigger("vecdedup", batchId, rows, local = Some(local)) { b =>
        val small = b.n <= bound
        val matches = b.matches(b.rows, b.index(indexPath, own, small), keys, Seq("vec"), "cos",
          GraftFunctions.call("graft_cosine", col("a.vec"), col("b.vec")), threshold, small)
        Seq(
          "matches" -> { () =>
            matches.write.mode("overwrite").parquet(s"$matchesPath/batch_id=$batchId")
          },
          "sigs" -> { () =>
            b.rows.write.mode("overwrite").parquet(s"$indexPath/$own")
          })
      }
      ()
    }
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
      checkpoint: String
  ): StreamingQuery =
    ForeachBatch.start(docs, checkpoint) { (batch, batchId) =>
      keepBestBatch(batch, batchId, score, indexPath, decisionsPath, numHashes, bands, threshold)
    }

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
    val keys = F.lshBandKeys(col("sig"), bands, numHashes / bands)
    val estJaccard = F.estJaccard(col("a.sig"), col("b.sig"), numHashes)
    // tombstone log lives beside the index (sibling dir, same FS)
    val retiredPath = indexPath + "_retired"
    val own = s"batch_id=$batchId"
    // NaN scores normalize to NULL here once — every comparison
    // below (batch-local and vs-index) then shares the batch
    // operator's discipline (NULL loses to any real score)
    val scored = batch
      .withColumn("__score", when(!isnan(score.cast("double")), score.cast("double")))
    trigger("keepbest", batchId, scored, "doc_id") { b =>
      val s = b.s
      // __score rides the signature pass (one narrow map) instead of
      // a post-hoc join back onto `scored` — one less exchange per
      // trigger; batch ids are unique per the stream contract
      val sigs = b.cache(Dedup.minhashSigsKeep(b.rows, "doc_id", "text", numHashes, 3, Seq("__score")))

      // 1. batch-local clusters → keep-best winners: the batch operator
      // itself, which resolves a bounded pair graph on the driver (one
      // checkpoint of the pairs, at most bound + 1 edges collected) and
      // runs distributed past the bound
      val batchPairs = b.matches(sigs, None, keys, Seq("sig"), "ej", estJaccard, threshold, small = false)
        .select(col("existing_id").as("id_a"), col("new_id").as("id_b"))
      val local = Jobs.desc(s, "keepbest:local-cc")(Dedup.dedupKeepBest(
        b.rows.select(col("doc_id"), col("__score")), "doc_id", col("__score"), batchPairs))
      val winners = local.filter(col("keep"))
        .select(col("doc_id").as("id"), col("score").as("new_score"))
        .join(sigs.select(col("id"), col("sig")), Seq("id"))
      val losers = local.filter(!col("keep"))
        .select(col("doc_id"), col("keep_id"), col("score"))

      // 2. winners probe the ACTIVE rep index (index minus tombstones),
      // producing each winner's best-matching rep (or nothing); the
      // batch-ids anti-join is an id-only side
      val matched = b.index(indexPath, own, b.n <= BroadcastIdRows) match {
        case None => winners.limit(0)
          .select(col("id"), lit(0L).as("rep_id"), lit(0.0).as("rep_score"))
        case Some(idx) =>
          // tombstones EXCLUDING this batch's own partition: a
          // replayed batch whose failed attempt already tombstoned
          // a rep would otherwise see that rep as inactive, not
          // re-match it, and then overwrite the tombstone partition
          // with an empty one — resurrecting the demoted rep beside
          // its replacement (two active reps for one cluster).
          // The log is CUMULATIVE (one id per replaced rep, forever),
          // so its broadcast is bounded too; the durable fix past
          // ~4M ids is folding tombstones into the index (compaction).
          val active = b.committed(retiredPath, own).fold(idx) { retired =>
            // tombstone-log size from parquet FOOTERS (driver-side,
            // no job). It includes this batch's own partition on a
            // replay — a conservative overcount that can only fall
            // back to the shuffled form early.
            val retiredN = graft.core.DirCache.parquetRowCount(s, retiredPath)
            val ids = retired.select(col("id"))
            idx.join(if (retiredN <= BroadcastIdRows) broadcast(ids) else ids, Seq("id"), "left_anti")
          }
          // winner rows carry the nh-int signature per band
          val winSmall = b.n <= bcastRowBound(bands, 4L * numHashes)
          val m = b.matches(winners.select(col("id"), col("sig")), Some(active.select(col("id"), col("sig"))),
            keys, Seq("sig"), "ej", estJaccard, threshold, winSmall, inBatch = false)
          // best-matching rep per winner: max similarity, min-id tie
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("new_id")).orderBy(col("ej").desc, col("existing_id").asc)
          // the matched set is winner-bounded — broadcast it so the
          // rep_score attach streams the index instead of shuffling it
          val best = m.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
            .select(col("new_id").as("id"), col("existing_id").as("rep_id"))
          (if (winSmall) broadcast(best) else best)
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
      val wcat = b.cache(winners
        .join(if (b.n <= BroadcastIdRows) broadcast(matched) else matched, Seq("id"), "left")
        .withColumn("cat",
          when(col("rep_id").isNull, lit("new"))
            .when(beats, lit("replace"))
            .otherwise(lit("lose"))))
      // loaded ONCE before the overlapped sinks plan: a sink that plans
      // while the cache is still unloaded submits its own cache-stage
      // job per `wcat` scan, so the trigger's job count raced
      Jobs.desc(s, "keepbest:decide")(wcat.count())

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
      Seq(
        "decisions" -> { () =>
          winnerDecisions.unionByName(demotions).unionByName(loserDecisions)
            .write.mode("overwrite").parquet(s"$decisionsPath/batch_id=$batchId")
        },
        "retired" -> { () =>
          wcat.filter(col("cat") === "replace").select(col("rep_id").as("id"))
            .write.mode("overwrite").parquet(s"$retiredPath/$own")
        },
        "index" -> { () =>
          newReps.write.mode("overwrite").parquet(s"$indexPath/$own")
        })
    }
  }
}
