package graft.core

import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/**
 * Driver-side cache of small per-directory loads (index meta rows,
 * centroid tables, PQ codebooks, stats scalars), keyed by the dir's
 * file fingerprint. What it buys: steady-state admission/search/stream
 * paths re-read the SAME bounded metadata dir on every trigger or
 * query, and each re-read is a full Spark job (scan + collect) for
 * bytes the driver already held. A hit costs one `listStatus`; any
 * rewrite (fresh part-file UUID names from `mode("overwrite")`) moves
 * the fingerprint and misses, so a stale value can never be served.
 */
object DirCache {
  // (appId, dir fingerprint, loaded value) per dir. SIZE-BOUNDED LRU:
  // values are small (meta rows, centroid tables, counts maps) but the
  // engine also runs as a long-lived multi-session server, and a
  // path-churning workload (e.g. DSIR generation dirs — gen=N/meta,
  // gen=N/counts per update) would otherwise grow the map forever.
  // Eviction only costs the next access a reload; correctness never
  // depends on residency. Access-ordered so hot index dirs survive.
  private val MaxEntries = 512
  private val cache =
    new java.util.LinkedHashMap[String, (String, Long, AnyRef)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, Long, AnyRef)]): Boolean =
        size() > MaxEntries
    }
  private def get(dir: String): (String, Long, AnyRef) =
    cache.synchronized(cache.get(dir))
  private def putEntry(dir: String, v: (String, Long, AnyRef)): Unit =
    cache.synchronized { cache.put(dir, v); () }

  /** Drop every entry whose dir is `path` or lives under it — called by
    * deleters (generation pruning, index wipes) so a deleted dir's
    * entry does not linger until LRU eviction. Purely hygienic: a
    * recreated dir would miss on fingerprint anyway. */
  def invalidateUnder(path: String): Unit = cache.synchronized {
    val prefix = if (path.endsWith("/")) path else path + "/"
    val it = cache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k == path || k.startsWith(prefix)) it.remove()
    }
  }

  /** Fingerprint of a written-by-Spark dir: every child's (name,
    * length, mtime) folded into one hash. Overwrites produce fresh
    * part-file UUID names, so any rewrite moves the fingerprint even
    * inside one mtime tick. One listStatus — no Spark job. */
  private def fingerprint(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Long = {
    var h = 1125899906842597L
    fs.listStatus(p).foreach { st =>
      h = h * 31 + st.getPath.getName.hashCode
      h = h * 31 + st.getLen
      h = h * 31 + st.getModificationTime
    }
    h
  }

  /**
   * Cached load. A missing dir is NOT cached (and must keep throwing
   * the loader's own error shape — "refuses without meta/centroids" is
   * a documented contract at several call sites): it falls through to
   * the uncached load.
   */
  def cached[T <: AnyRef](spark: SparkSession, dir: String)(load: => T): T =
    cachedAs(spark, dir, dir)(load)

  /** [[cached]] under `key`: a second value kept for the same dir (its
    * footer schema beside a loader's rows) must not share its entry. */
  private def cachedAs[T <: AnyRef](spark: SparkSession, dir: String, key: String)(load: => T): T = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp =
      try fingerprint(fs, p)
      catch {
        case _: java.io.FileNotFoundException =>
          // deleted dir: drop any stale entry instead of leaving it to
          // age out — keeps the map honest under dir-churning workloads
          cache.synchronized { cache.remove(key); () }
          return load
      }
    val appId = spark.sparkContext.applicationId
    val cur = get(key)
    if (cur != null && cur._1 == appId && cur._2 == fp) cur._3.asInstanceOf[T]
    else {
      val v = load
      putEntry(key, (appId, fp, v))
      v
    }
  }

  /** Pre-populate the cache for a dir the caller JUST wrote with the
    * in-memory value the write came from — the first post-write load
    * (e.g. an append reading back the centroids its build computed)
    * then hits without ever running the read job. Only sound when the
    * value is exactly what the loader would produce AND the caller is
    * the dir's only writer between its write and this call (the
    * engine's single-maintainer-per-index contract): the fingerprint is
    * taken HERE, after the write, so a foreign rewrite inside that
    * window would pair the new fingerprint with this stale value. A
    * rewrite after the seed is caught by the fingerprint as usual. */
  def put(spark: SparkSession, dir: String, value: AnyRef): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try putEntry(dir, (spark.sparkContext.applicationId, fingerprint(fs, p), value))
    catch { case _: java.io.FileNotFoundException => () }
  }

  /**
   * Total row count of a parquet dir from file FOOTERS — pure
   * driver-side metadata (recursive listing + one footer read per data
   * file), NO Spark job. The count a bloom-sizing step needs right
   * after writing a dir: equivalent to `spark.read.parquet(dir).count()`
   * (parquet row counts are exact in footers) at zero job cost. Only
   * sound on dirs this engine wrote (all files parquet); file counts
   * stay bounded by the cell/bucket-clustered write discipline.
   * Hidden names are skipped the way Spark's own listing skips them
   * (`.x`, and `_x` unless it is a `k=v` partition dir), so sidecars,
   * markers and an in-flight write's `_temporary` tree never count.
   */
  def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def count(d: org.apache.hadoop.fs.Path): Long = fs.listStatus(d).iterator.map { st =>
      if (hidden(st.getPath.getName)) 0L
      else if (st.isDirectory) count(st.getPath)
      else footer(spark, st)(_.getRecordCount)
    }.sum
    count(root)
  }

  /** Names Spark's own listing skips: `.x`, and `_x` unless it is a
    * `k=v` partition dir. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  private def footer[T](spark: SparkSession, st: org.apache.hadoop.fs.FileStatus)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(st, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try f(r) finally r.close()
  }

  /**
   * The data schema of a parquet dir this engine wrote, from ONE footer
   * read on the driver — the schema Spark's own inference would return
   * (it too reads one footer when schemas are not merged, and prefers
   * the Spark schema the writer stored there), without its Spark job.
   * Partition columns are not in a footer: a read given this schema
   * still discovers them from the `k=v` dirs. Cached by dir
   * fingerprint. None when the dir holds no data file yet or the footer
   * carries no Spark schema; the caller then lets Spark infer.
   */
  def parquetSchema(spark: SparkSession, dir: String): Option[StructType] =
    cachedAs(spark, dir, dir + "/#schema") {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def firstFile(d: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(d).sortBy(_.getPath.getName).iterator
          .filterNot(st => hidden(st.getPath.getName))
          .flatMap(st => if (st.isDirectory) firstFile(st.getPath) else Some(st))
          .nextOption()
      try firstFile(root).flatMap { st =>
        footer(spark, st)(r => Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")))
      }.map(json => nullable(DataType.fromJson(json)).asInstanceOf[StructType])
      catch { case _: java.io.FileNotFoundException => None }
    }

  /** `spark.read` carrying [[parquetSchema]] of `dir` when it is known. */
  def reader(spark: SparkSession, dir: String): DataFrameReader =
    parquetSchema(spark, dir).fold(spark.read)(spark.read.schema)

  /** Spark reads every parquet column as nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
