package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Upsert semantics: the reference ingests DataPoints keyed by
 * (time, dimensions); re-putting a key replaces its metric values
 * (yupana-core TSDB.put / yupana SQL UPSERT,
 * yupana-core/src/main/scala/org/yupana/core/sql/parser — Upsert AST).
 *
 * graft merges base + updates with updates winning per key: a union and
 * one window dedup over the key. At scale the window shuffles on the
 * key — the same shuffle a groupBy would need; when the base is the
 * TsLayout, time-bucket pruning limits the rewrite to touched buckets
 * (classic merge-on-read compaction shape).
 */
object Upsert {

  /** Content-hash tie-break for rows sharing a key at the same
    * priority/version (e.g. duplicate keys WITHIN one update batch):
    * row_number alone would pick an arbitrary, run-dependent winner.
    * Hashing the whole row makes the pick a pure function of content —
    * replays and engines agree — without assuming the value columns
    * are orderable types. Restricted to hashable column types (a map
    * column would fail xxhash64 analysis); rows differing only in map
    * columns tie arbitrarily — same class as the documented
    * duplicate-row caveat. */
  private def rowTieBreak(df: DataFrame, exclude: Set[String]) =
    xxhash64(graft.core.Skew.hashableCols(df, exclude): _*)

  def apply(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val tagged = base.withColumn("__prio", lit(0)).unionByName(updates.withColumn("__prio", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__prio").desc, rowTieBreak(tagged, Set("__prio")).asc)
    tagged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__prio", "__rn")
  }

  // ------------------------------------------------------------------
  // Log-structured continuous upsert (the shape TSDB.put needs when the
  // store is immutable parquet): appends are O(batch) versioned writes,
  // reads merge-on-read with latest-version-wins, and compaction bounds
  // read amplification. The reference gets in-place puts from HBase;
  // on object storage this log+compact cycle is the standard
  // equivalent.
  // ------------------------------------------------------------------

  /** Append one update batch as version `seq` — O(batch) write, no read
    * of existing data. Idempotent per seq: the version directory is
    * overwritten, so replaying a failed batch cannot duplicate rows.
    * Crash window: a write that dies before any data file lands leaves
    * a file-less `__seq=` dir. Everywhere downstream that is harmless
    * (later versions make the log readable, replays overwrite, nextSeq
    * skipping a number is fine) EXCEPT a [[readLatest]] of a log whose
    * ONLY version is the crashed one — that read fails LOUDLY on
    * schema inference (nothing silently serves), and re-running the
    * failed upsert heals it. */
  def appendVersion(updates: DataFrame, path: String, seq: Long): Unit =
    updates
      .withColumn("__seq", lit(seq))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__seq")
      .parquet(path)

  /** Merge-on-read: latest version per key wins. Versions never tie
    * (one per seq), but a key duplicated WITHIN one appended batch
    * shares its seq — the content-hash tie-break keeps the winner
    * deterministic across replays (streamUpsert appends micro-batches
    * verbatim, so within-batch duplicates are the caller's data
    * arriving, not a bug to reject). */
  def readLatest(spark: org.apache.spark.sql.SparkSession, path: String, keys: Seq[String]): DataFrame = {
    // schema from one footer: only this store writes the log, so the
    // (re)created view runs no schema-inference job
    latest(graft.core.DirCache.reader(spark, path).parquet(path), keys)
  }

  /** The latest version of each key in `log`: `__seq` descending, then
    * the content-hash tie-break. */
  private def latest(log: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__seq").desc, rowTieBreak(log, Set("__seq")).asc)
    log
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__seq", "__rn")
  }

  /**
   * Compact versions ≤ the max seq visible at start into that single
   * version (read amplification back toward 1; run periodically, like
   * the reference's HBase compactions run underneath it).
   *
   * Safe against concurrent appends and crashes: only versions ≤ maxSeq
   * are touched — a batch committed at a newer seq during compaction
   * survives, because (1) the merged ≤maxSeq state is first written
   * INTO the maxSeq partition (dynamic partition overwrite — nothing
   * else replaced), then (2) strictly-older version partitions are
   * deleted. A crash between the steps leaves older versions in place,
   * which is only redundant data: readLatest stays correct because the
   * maxSeq partition already holds the full merged state and wins every
   * key it shares with older versions.
   */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String, keys: Seq[String]): Unit = {
    val log = graft.core.DirCache.reader(spark, path).parquet(path)
    // the newest version that holds a data file, from the relation's own
    // file listing (no job). A crashed, file-less newer `__seq=` dir never
    // counts: merged into, a replay of that seq would overwrite the state
    val maxSeq = log.inputFiles.iterator
      .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName)
      .collect { case d if d.startsWith("__seq=") => d.stripPrefix("__seq=").toLong }
      .max
    // readLatest's window: compaction must materialize exactly the row
    // readLatest would have returned
    val merged = latest(log.filter(col("__seq") <= maxSeq), keys)
    // materialize before overwriting a path we read from
    val staged = graft.core.Jobs.desc(spark, "upsert:compact:merge")(merged.localCheckpoint(true))
    graft.core.Jobs.desc(spark, "upsert:compact:write") {
      staged
        .withColumn("__seq", lit(maxSeq))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__seq")
        .parquet(path)
    }
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listStatus(new org.apache.hadoop.fs.Path(path))
    it.foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("__seq=")) {
        val seq = name.stripPrefix("__seq=").toLong
        if (seq < maxSeq) fs.delete(st.getPath, true)
      }
    }
  }

  /** Streaming continuous upsert: each micro-batch appends one version
    * (batchId = seq, replay-idempotent). Readers use [[readLatest]]. */
  def streamUpsert(
      updates: DataFrame,
      path: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.ForeachBatch.start(updates, checkpoint)(appendVersion(_, path, _))
}
