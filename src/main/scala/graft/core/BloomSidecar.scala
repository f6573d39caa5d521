package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter

/**
 * Bloom-filter sidecar files kept INSIDE an index data dir — the text
 * index's band-key sidecars and the vector index's id sidecars share
 * this one writer and reader. Placement is the crash-safety argument:
 * every `mode("overwrite")` data rewrite deletes the sidecar with the
 * old data, so a crash between the data and sidecar writes leaves a
 * sidecar-less dir, which every reader treats as "read the data".
 * Sidecar names start with `_`, so parquet dir reads skip them.
 */
object BloomSidecar {

  /** Write `bf` as `dir/name`. Temp-write + rename: a crash mid-write
    * must leave NO torn sidecar beside committed data (readFrom on a
    * truncated file throws, which would fail probes instead of the
    * sidecar-less fall-back). The dot-prefixed temp name is invisible
    * to parquet dir listings; rename is atomic on local/HDFS. An 8-byte
    * random nonce follows the filter bytes: BloomFilter.readFrom reads
    * its own length and ignores the tail, while the nonce gives every
    * write a distinct content fingerprint — a broadcast cache keyed on
    * it can never serve a STALE bloom after a rebuild of identical
    * length inside one mtime tick. */
  def write(spark: SparkSession, dir: String, name: String, bf: BloomFilter): Unit = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try {
      bf.writeTo(out)
      val nonce = new Array[Byte](8)
      new java.security.SecureRandom().nextBytes(nonce)
      out.write(nonce)
    } finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"sidecar rename failed: $tmp -> $p")
  }

  /** The sidecar `dir/name`, or None when there is none. */
  def read(spark: SparkSession, dir: String, name: String): Option[BloomFilter] = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(BloomFilter.readFrom(in)) finally in.close()
    }
  }
}
