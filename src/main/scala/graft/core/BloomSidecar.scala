package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

/**
 * graft's one Bloom module: it sizes, builds, writes, reads and caches
 * every Bloom graft keeps — the text index's band-key sidecars, the
 * vector index's id sidecars and the contamination prefilter.
 *
 * Sizing: a filter is always `BloomFilter.create(expected, fpp)` — its
 * bits and hash count hold the fpp at any size. (Spark's
 * `stat.bloomFilter` clamps to 4M items and 67M bits, so a 20M-key
 * filter asked for 0.03 measured 0.71.) The two build forms — over a
 * one-long-column frame and over driver-held longs — put the same keys
 * into the same geometry, so they give the same bytes.
 *
 * Sidecars are kept INSIDE an index data dir. Placement is the
 * crash-safety argument: every `mode("overwrite")` data rewrite
 * deletes the sidecar with the old data, so a crash between the data
 * and sidecar writes leaves a sidecar-less dir, which every reader
 * treats as "read the data". Sidecar names start with `_`, so parquet
 * dir reads skip them.
 */
object BloomSidecar {

  /** The filter of `expected` items at `fpp` holding every non-NULL
    * key of `keys`, a frame of one long column. One job: a tree
    * aggregation over `putLong` and `mergeInPlace` (an empty partition
    * ships no filter). */
  def build(keys: DataFrame, expected: Long, fpp: Double): BloomFilter = {
    require(keys.schema.length == 1 && keys.schema.head.dataType == LongType,
      s"a Bloom builds over one long column, got ${keys.schema.simpleString}")
    val bf = keys.queryExecution.toRdd.treeAggregate(null: BloomFilter)(
      (acc, row) =>
        if (row.isNullAt(0)) acc
        else {
          val b = if (acc == null) BloomFilter.create(expected, fpp) else acc
          b.putLong(row.getLong(0))
          b
        },
      (a, b) => if (a == null) b else if (b == null) a else a.mergeInPlace(b))
    if (bf == null) BloomFilter.create(expected, fpp) else bf
  }

  /** [[build]] over driver-held keys. */
  def build(keys: IterableOnce[Long], expected: Long, fpp: Double): BloomFilter = {
    val bf = BloomFilter.create(expected, fpp)
    keys.iterator.foreach(bf.putLong)
    bf
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `bf` as `dir/name`. Temp-write + rename: a crash mid-write
    * must leave NO torn sidecar beside committed data (readFrom on a
    * truncated file throws, which would fail probes instead of the
    * sidecar-less fall-back). The dot-prefixed temp name is invisible
    * to parquet dir listings; rename is atomic on local/HDFS. An 8-byte
    * random nonce follows the filter bytes: BloomFilter.readFrom reads
    * its own length and ignores the tail, while the nonce gives every
    * write a distinct content fingerprint — [[readBcast]]'s cache can
    * never serve a STALE bloom after a rebuild of identical length
    * inside one mtime tick. */
  def write(spark: SparkSession, dir: String, name: String, bf: BloomFilter): Unit = {
    val p = new Path(dir, name)
    val f = fs(spark, p)
    val tmp = new Path(dir, s".$name.tmp")
    val out = f.create(tmp, true)
    try {
      bf.writeTo(out)
      val nonce = new Array[Byte](8)
      new java.security.SecureRandom().nextBytes(nonce)
      out.write(nonce)
    } finally out.close()
    f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"sidecar rename failed: $tmp -> $p")
  }

  /** The sidecar `dir/name`, or None when it is missing or unreadable
    * (corrupt, or deleted by a concurrent rewrite): every caller then
    * reads the data, never skips it. */
  def read(spark: SparkSession, dir: String, name: String): Option[BloomFilter] = {
    val p = new Path(dir, name)
    try {
      val in = fs(spark, p).open(p)
      try Some(BloomFilter.readFrom(in)) finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  // ((appId, sidecar length, content nonce), broadcast handle) per
  // sidecar path — see readBcast
  private val bcastCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((String, Long, Long), Broadcast[BloomFilter])]()

  /** The sidecar's last 8 bytes as its content fingerprint: the write
    * nonce for files [[write]] wrote, and for a legacy nonce-less
    * sidecar simply its trailing bloom bits — equally usable
    * (different key sets make different bits with overwhelming
    * probability). One 8-byte ranged read; the len < 8 guard is for a
    * corrupt/truncated file (a serialized bloom is always longer). */
  private def nonce(spark: SparkSession, p: Path, len: Long): Long = {
    if (len < 8L) return 0L
    val in = fs(spark, p).open(p)
    try {
      in.seek(len - 8L)
      val b = new Array[Byte](8)
      in.readFully(b)
      java.nio.ByteBuffer.wrap(b).getLong
    } finally in.close()
  }

  /** [[read]] as a CACHED BROADCAST, keyed by the sidecar file's
    * (length, write nonce): a steady-state stream probes the same base
    * sidecar every trigger, and re-reading + re-broadcasting a
    * base-sized filter per batch would partially reintroduce the
    * per-trigger cost the sidecars exist to remove. The per-trigger
    * cost of a HIT is one file status + one 8-byte ranged read. A
    * rewritten sidecar carries a fresh nonce (length/mtime alone could
    * tie across a rebuild) and replaces the entry; the stale broadcast
    * is simply dropped (never destroy()'d: another in-flight trigger
    * may still hold it; the ContextCleaner reclaims unreferenced
    * broadcasts). The appId guards against a cached handle outliving
    * its SparkContext. None, like [[read]], for a missing or unreadable
    * sidecar. */
  def readBcast(spark: SparkSession, dir: String, name: String): Option[Broadcast[BloomFilter]] = {
    val p = new Path(dir, name)
    val key = p.toString
    val hit =
      try {
        val st = fs(spark, p).getFileStatus(p)
        val fp = (spark.sparkContext.applicationId, st.getLen, nonce(spark, p, st.getLen))
        val cur = bcastCache.get(key)
        if (cur != null && cur._1 == fp) Some(cur._2)
        else read(spark, dir, name).map { bf =>
          val bc = spark.sparkContext.broadcast(bf)
          bcastCache.put(key, (fp, bc))
          bc
        }
      } catch { case _: java.io.IOException => None }
    if (hit.isEmpty) bcastCache.remove(key)
    hit
  }
}
