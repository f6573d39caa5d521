package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Ann

/**
 * Streaming admission into a PERSISTED batch-layout IVF index
 * ([[graft.operators.Ann.buildIvfIndex]]): each micro-batch becomes a
 * searchable delta shard by one narrow assignment pass — the vector
 * twin of [[StreamingDedup.run]]'s unified-index discipline. One
 * format, both writers: an index grown by this stream is searchable
 * with `Ann.searchIvfIndex`, inventoried by `SHOW VECTOR INDEX`,
 * foldable with `PROMOTE VECTOR INDEX DELTA`, and the stream can
 * extend an index the batch side built (the geometry is the index's
 * own centroids — never this stream's parameters).
 *
 * Convergence under REPLAY and FOLDING: item_id is the identity. Each
 * batch resolves its NOVEL subset per id — the ids already present in
 * the base (folded by a drift-rebuild, an external promotion, or
 * ingested by the batch side) or in ANOTHER committed shard are
 * excluded row-by-row, never batch-by-batch, so a mixed batch (some
 * ids already held, some new) admits exactly its new rows. The
 * batch's OWN shard dir is excluded from that probe (the admitShard
 * replay discipline: a shard must never self-match) and then
 * overwritten, so a replayed batch converges whether its rows live in
 * its shard, in the base, or nowhere yet. The id probes are
 * DELTA-sized (r14): batch ids test against per-dir id Bloom sidecars
 * first, and only the maybe-held remainder touches the real id
 * columns — see [[resolveNovel]].
 *
 * Drift self-heal: every batch pays the narrow drift probe
 * ([[graft.operators.Ann.ivfDriftFraction]]); past
 * `driftRetrainFraction` the index REBUILDS from its own rows — the
 * plain-IVF layout stores raw vectors, so base ∪ committed delta IS
 * the corpus. The corpus is staged OUTSIDE the index dirs first
 * (`rebuild_src` — the rebuild's wipe deletes the very files a lazy
 * read would still need), then re-quantized by the standard build at
 * the corpus-derived cell count (~n/2048, floor 16 — a heal must not
 * collapse a corpus-scaled index onto a default). Crash recovery keys
 * on the index's completion marker (`stats`, the plain build's LAST
 * write, deleted FIRST by the rebuild's wipe): a leftover stage with
 * the marker MISSING means a crashed rebuild — the next batch's
 * preamble resumes it before anything else, closing every window of
 * the build's write sequence — while a leftover stage with the marker
 * PRESENT means the rebuild completed and only the cleanup crashed,
 * so the stage is deleted, never resurrected. The stream is the
 * index's only writer during a heal (concurrent external
 * rebuilds/promotions racing a crashed heal are the same
 * single-maintainer contract the batch lifecycle documents).
 * PQ-family indexes are refused: their rows are codes — rebuilding
 * needs the raw source table and stays a batch-side action.
 */
object StreamingVectorAdmit {

  def run(
      vecs: DataFrame, // streaming: (vec_id long, embedding array<float>)
      indexPath: String,
      checkpoint: String,
      driftRetrainFraction: Double = 0.5,
      rebuildCells: Int = 0 // ≤0 = corpus-derived (~n/2048, floor 16)
  ): StreamingQuery =
    ForeachBatch.start(vecs, checkpoint) { (batch, batchId) =>
      admitBatch(batch, indexPath, batchId, driftRetrainFraction, rebuildCells)
    }

  /** One micro-batch's admission (the foreachBatch body, callable
    * directly in specs): returns true when the drift trigger rebuilt
    * the index this batch. `localMax` caps the driver path's row bound:
    * specs pass 0 to force the distributed side. */
  private[graft] def admitBatch(
      batch: DataFrame,
      indexPath: String,
      batchId: Long,
      driftRetrainFraction: Double = 0.5,
      rebuildCells: Int = 0,
      localMax: Long = Long.MaxValue
  ): Boolean = {
    val s = batch.sparkSession
    val vecs = batch.select(col("vec_id"), col("embedding"))
    // ONE job sizes the batch and is the empty-batch guard. Under the
    // driver-path bound it is a bounded collect of the ids alone, and a
    // batch within the bound is then collected and stays on the driver
    // (novelty, cell assignment, drift and the shard's id sidecar); a
    // quantizer-less index (a crashed rebuild's window) or a bigger
    // batch is counted instead, pulls no payload, and is admitted
    // distributed.
    val bound = localBound(s, indexPath).map(math.min(_, localMax))
    val sized = bound.map(b => graft.core.Jobs.desc(s, "vecadmit:batch-count") {
      vecs.select(col("vec_id")).limit(math.min(b, Int.MaxValue - 1L).toInt + 1).collect().length
    })
    if (sized.contains(0)) return false
    val local = sized.filter(_ <= bound.get)
      .map(_ => graft.core.Jobs.desc(s, "vecadmit:batch-collect")(vecs.collect()))
    val batchN = local.fold(graft.core.Jobs.desc(s, "vecadmit:batch-count")(batch.count()))(_.length.toLong)
    if (batchN == 0L) return false
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(s"$indexPath/rebuild_src")
    // crash recovery (see the scaladoc's marker protocol)
    if (fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS"))) {
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/stats/_SUCCESS")))
        rebuildFromStage(s, indexPath, rebuildCells) // crashed rebuild: resume
      else fs.delete(stage, true) // completed rebuild, crashed cleanup: never resurrect
    }
    require(Ann.vecDirs(s, indexPath)._2 == "assignments_delta",
      "streaming admission targets the plain IVF family (a PQ index's rows are codes; " +
        "its rebuild needs the raw source and stays a batch-side action)")
    val own = s"shard=stream_$batchId"
    // the rebuild branch below runs only after the append and the drift
    // probe complete (it folds the delta the append just committed)
    @volatile var driftFrac = 0.0
    local match {
      case Some(rows) =>
        val novel = graft.core.Jobs.desc(s, "vecadmit:resolve-novel")(resolveNovelLocal(s, rows, indexPath, own)._1)
        import scala.jdk.CollectionConverters._
        Ann.appendToIvfIndex(s.createDataFrame(novel.toSeq.asJava, vecs.schema), indexPath, s"stream_$batchId",
          Some(novel.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSeq))
        driftFrac = Ann.ivfDriftFractionLocal(s, indexPath,
          rows.toSeq.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
      case None =>
        val (novel, _) = graft.core.Jobs.desc(s, "vecadmit:resolve-novel") {
          resolveNovel(batch, indexPath, own, knownRows = batchN)
        }
        // the shard append and the drift probe share no lineage (the
        // probe reads the batch + cached centroids/p95; the append writes
        // a NEW shard dir): overlapped driver threads — guide §2.6
        graft.core.Jobs.par(s)(
          "vecadmit:append" -> { () =>
            Ann.appendToIvfIndex(novel, indexPath, s"stream_$batchId")
          },
          "vecadmit:drift" -> { () =>
            driftFrac = Ann.ivfDriftFraction(s, indexPath, batch)
          })
    }
    val drifted = driftFrac > driftRetrainFraction
    if (drifted) {
      // stage base ∪ committed delta (identity-deduped) outside the
      // index dirs, then re-quantize through the standard build
      val base = s.read.parquet(s"$indexPath/assignments")
        .select(col("item_id"), col("item_vec"))
      val all = Ann.deltaSide(s, indexPath, "assignments_delta", Seq("item_id", "item_vec"))
        .fold(base)(base.unionByName(_))
      all.dropDuplicates(Seq("item_id"))
        .select(col("item_id").as("vec_id"), col("item_vec").as("embedding"))
        .write.mode("overwrite").parquet(stage.toString)
      rebuildFromStage(s, indexPath, rebuildCells)
    }
    drifted
  }

  /**
   * Per-id novelty resolution for one micro-batch — DELTA-sized, not
   * corpus-sized (r14): the r13 form semi-joined the batch ids against
   * the base `item_id` column on EVERY trigger — column-pruned, but at
   * a 10⁹-row index that is a per-trigger corpus-length scan for a
   * bounded batch's probe. Now each index dir carries an id Bloom
   * sidecar ([[graft.operators.Ann.writeIdBloom]], written at
   * build/admission/promotion); the batch tests its ids against the
   * loaded sidecars first, and only the "maybe held" remainder — false
   * positives (3% fpp) plus true duplicates — touches the real id
   * columns. Blooms have no false negatives, so the all-novel common
   * case reads ZERO base rows and stays exact.
   *
   * Returns the novel rows plus the path taken (spec-pinned):
   *  - `sidecar-clean`: every batch id misses every sidecar — no
   *    base/shard data read at all; the novel rows ARE the batch;
   *  - `sidecar-verified`: some ids maybe-held — those (and only
   *    those) verify against the id columns; ≤1024 survivors ride as
   *    an `isin` pushdown so parquet row-group stats prune the scan;
   *  - `full-scan`: a source lacks its sidecar (pre-sidecar index, or
   *    a crash between the data and sidecar writes) — the r13 exact
   *    corpus-length semi-join.
   *
   * The batch's OWN shard (dir AND sidecar) stays excluded: a replay
   * must not see its previous write as "already held" and then
   * overwrite its shard with nothing.
   */
  private[graft] def resolveNovel(
      batch: DataFrame,
      indexPath: String,
      ownShard: String,
      knownRows: Long = -1L // caller-counted batch rows (≥ distinct ids); <0 = unknown
  ): (DataFrame, String) = {
    val s = batch.sparkSession
    val batchIds = batch.select(col("vec_id").as("item_id")).distinct()
    // ids-only broadcasts below fall back to the shuffled join past
    // StreamingDedup.BroadcastIdRows (a backlog-sized batch must not
    // fail the trigger). The caller's batch count bounds the distinct
    // ids from above, so a counted caller pays no probe job here.
    val bound = StreamingDedup.BroadcastIdRows
    lazy val idsSmall =
      if (knownRows >= 0L) knownRows <= bound
      else batchIds.limit(bound.toInt + 1).count() <= bound
    def maybeBcast(d: DataFrame): DataFrame = if (idsSmall) broadcast(d) else d
    val baseDir = s"$indexPath/assignments"
    val others = Ann.readableVecShardDirs(s, indexPath).filterNot(_.getName == ownShard)
    def heldAmong(candidates: DataFrame, scanFilter: Option[Column]): DataFrame = {
      val all = idColumns(s, indexPath, others)
      scanFilter.fold(all)(all.filter).join(maybeBcast(candidates), Seq("item_id"), "left_semi")
    }
    // per-ID novelty throughout: a mixed batch admits exactly its new
    // rows (an any-overlap skip would silently drop them)
    def novelExcluding(held: DataFrame): DataFrame =
      batch.join(
        maybeBcast(held.withColumnRenamed("item_id", "vec_id")), Seq("vec_id"), "left_anti")
    // cached broadcasts: the base sidecar is re-used across triggers
    // (re-read + re-broadcast only when its file fingerprint moves) —
    // see BloomSidecar.readBcast
    val sidecars = (baseDir +: others.map(_.toString))
      .map(d => graft.core.BloomSidecar.readBcast(s, d, Ann.IdBloomFile))
    if (!sidecars.forall(_.isDefined))
      (novelExcluding(heldAmong(batchIds, None)), "full-scan")
    else {
      val handles = sidecars.flatten.toArray
      val mightHold = udf { (id: Long) =>
        var i = 0
        var hit = false
        while (i < handles.length && !hit) { hit = handles(i).value.mightContainLong(id); i += 1 }
        hit
      }
      // bounded: fp-rate + true-duplicate sized, never corpus-sized.
      // ONE collect resolves the common paths (≤1024 survivors): the
      // collected ids themselves become the candidate frame, so the
      // clean and small-verified paths pay no localCheckpoint job
      val maybeHead = batchIds.filter(mightHold(col("item_id")))
        .limit(1025).collect().map(_.getLong(0))
      if (maybeHead.isEmpty) (batch, "sidecar-clean")
      else if (maybeHead.length <= 1024) {
        // ≤1024 survivors ride as a pushed-down In filter (row-group
        // pruning on the id column) and as a driver-built candidate
        // frame — the maybe-set was fully collected above
        import s.implicits._
        val maybeDf = maybeHead.toSeq.toDF("item_id")
        val scanFilter =
          Some(col("item_id").isin(maybeHead.map(java.lang.Long.valueOf).toIndexedSeq: _*))
        (novelExcluding(heldAmong(maybeDf, scanFilter)), "sidecar-verified")
      } else {
        // bigger maybe-sets (a replayed post-promotion batch, a
        // duplicate storm) verify by semi-join on the recomputed filter
        // — checkpointed so the UDF pass runs once, not per consumer
        val maybe = batchIds.filter(mightHold(col("item_id"))).localCheckpoint()
        (novelExcluding(heldAmong(maybe, None)), "sidecar-verified")
      }
    }
  }

  /** The driver path's row bound: [[StreamingDedup.DriverPathRows]], or
    * [[StreamingDedup.bcastRowBound]] of an (id, vector) side at the
    * stored centroids' width if smaller; None while the index has no
    * quantizer. */
  private def localBound(s: org.apache.spark.sql.SparkSession, indexPath: String): Option[Long] = {
    val cents = new org.apache.hadoop.fs.Path(s"$indexPath/centroids/_SUCCESS")
    if (!cents.getFileSystem(s.sparkContext.hadoopConfiguration).exists(cents)) None
    else Ann.loadIvfCentroids(s, indexPath).headOption
      .map(c => math.min(StreamingDedup.bcastRowBound(1, 4L * c.length), StreamingDedup.DriverPathRows))
  }

  /**
   * [[resolveNovel]] for a batch held on the driver ((vec_id,
   * embedding) rows): the same sidecar test and the same path names,
   * with the batch's ids tested against the Blooms on the driver. Only
   * ids a Bloom reports as maybe held (every id when a sidecar is
   * missing: `full-scan`) are verified, by one bounded scan of the id
   * columns filtered to them; the held ids it returns are collected.
   * Returns the novel rows and the path taken.
   */
  private[graft] def resolveNovelLocal(
      s: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      indexPath: String,
      ownShard: String
  ): (Array[org.apache.spark.sql.Row], String) = {
    val ids = rows.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
    val others = Ann.readableVecShardDirs(s, indexPath).filterNot(_.getName == ownShard)
    val sidecars = (s"$indexPath/assignments" +: others.map(_.toString))
      .map(d => graft.core.BloomSidecar.readBcast(s, d, Ann.IdBloomFile))
    val (maybe, path) =
      if (!sidecars.forall(_.isDefined)) (ids, "full-scan")
      else {
        val blooms = sidecars.flatten.map(_.value)
        val m = ids.filter(id => blooms.exists(_.mightContainLong(id)))
        (m, if (m.isEmpty) "sidecar-clean" else "sidecar-verified")
      }
    val held =
      if (maybe.isEmpty) Set.empty[Long]
      else {
        // ≤1024 ids ride as a pushed-down In filter (row-group pruning),
        // more as a broadcast set
        val boxed = maybe.toSeq.map(java.lang.Long.valueOf)
        val isHeld =
          if (maybe.size <= 1024) col("item_id").isin(boxed: _*)
          else {
            val set = new java.util.HashMap[Any, Any]()
            boxed.foreach(set.put(_, true))
            graft.functions.expressions.BroadcastLookup.column(s, col("item_id"), set,
              org.apache.spark.sql.types.BooleanType).isNotNull
          }
        idColumns(s, indexPath, others).filter(isHeld).collect().map(_.getLong(0)).toSet
      }
    (rows.filter(r => r.isNullAt(0) || !held(r.getLong(0))), path)
  }

  /** The id column of the base and of the committed shard dirs
    * `others`, their schemas from one footer each. */
  private def idColumns(s: org.apache.spark.sql.SparkSession, indexPath: String,
      others: Array[org.apache.hadoop.fs.Path]): DataFrame = {
    val (baseDir, deltaDir) = (s"$indexPath/assignments", s"$indexPath/assignments_delta")
    val base = graft.core.DirCache.reader(s, baseDir).parquet(baseDir).select(col("item_id"))
    if (others.isEmpty) base
    else base.unionByName(graft.core.DirCache.reader(s, deltaDir).option("basePath", deltaDir)
      .parquet(others.map(_.toString).toIndexedSeq: _*).select(col("item_id")))
  }

  private def rebuildFromStage(
      s: org.apache.spark.sql.SparkSession, indexPath: String, rebuildCells: Int): Unit = {
    val staged = s.read.parquet(s"$indexPath/rebuild_src")
    // corpus-derived cell count from the stage dir's parquet footers
    // (driver-side row counts — the stage was just written): no count job
    val cells =
      if (rebuildCells > 0) rebuildCells
      else math.max(16,
        (graft.core.DirCache.parquetRowCount(s, s"$indexPath/rebuild_src") / 2048L).toInt)
    Ann.buildIvfIndex(s, staged, indexPath, numCells = cells)
    val stage = new org.apache.hadoop.fs.Path(s"$indexPath/rebuild_src")
    stage.getFileSystem(s.sparkContext.hadoopConfiguration).delete(stage, true)
  }
}
