package graft.core

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.ResolvedInlineTable
import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, CurrentDate, CurrentTimeZone, CurrentTimestampLike, CurrentUser, Expression, LocalTimestamp, SubqueryExpression, UnsafeProjection, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult, Filter, LocalRelation, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * Deterministic query-RESULT cache — the Spark-native re-expression of
 * the reference's cache layer (yupana-cache CacheFactory.scala with
 * its Caffeine/Ehcache/Ignite backends). Dashboards re-issue the same
 * panel statements, and in a Spark deployment the expensive artifact
 * is the job, not the lookup. Two tiers share ONE plan identity:
 *
 * `fingerprint(df)` hashes the CANONICALIZED analyzed plan (expression
 * ids normalized, so two structurally-identical queries built in
 * different sessions fingerprint identically) plus what
 * canonicalization drops: each file relation's catalog identifier and
 * root paths, and the rows of each inline or local relation. Any change
 * to filters, columns, literals, tables, paths or inline data changes
 * the key. Analysis is deterministic (no cost-based choices), which
 * optimized/physical plans would not guarantee.
 *
 * Parquet tier (opt-in, survives the process): [[through]]/[[lookup]]
 * keep results under `<cacheDir>/data=<dataKey>/plan=<fingerprint>/`.
 * `dataKey` is the caller's data-version fingerprint ([[dataVersion]],
 * the SparkEntry.dataKey discipline): any rewrite of the source data
 * changes it, so stale entries become UNREACHABLE by construction, and
 * [[invalidateData]]/[[invalidateAll]]/[[vacuum]] reclaim them.
 * Parquet's own `_SUCCESS` is the completeness marker, so a crashed
 * populate is re-populated, never served.
 *
 * In-memory tier (always on, one JVM, consulted by the pg-wire
 * frontend for every query it runs): [[serve]] answers a statement
 * from rows an earlier execution streamed. A hit needs all four parts
 * of the key to match:
 *  1. the fingerprint above;
 *  2. the session's runtime `spark.sql.*` conf entries;
 *  3. the bound principal (`graft.sql.user`);
 *  4. the input version: (path, length, mtime) of every file that the
 *     OPTIMIZED plan's file relations would scan in this execution —
 *     after rollup routing and partition pruning, listed through the
 *     same FileIndex an uncached run reads.
 * A hit therefore returns exactly what re-executing the same plan over
 * the same input files would. Never stored or served (bypassed):
 * commands; plans with a non-deterministic, current-time/date or
 * current-user expression; plans with a user-defined function; plans
 * with any leaf that is not a file relation, a LocalRelation or
 * OneRowRelation (JDBC, `range()`, cached relations, V2 sources). A
 * miss streams exactly as uncached, retains rows only while the
 * rendered result stays within [[EntryMaxBytes]], and publishes only
 * after the result has fully streamed; the tier holds at most
 * [[TierMaxBytes]], evicting least-recently-used entries.
 */
object ResultCache {

  /** Data-version fingerprint of a source dir or file: total byte
    * length + file count + max mtime over a RECURSIVE listing — one
    * metadata pass, no job — which changes on every rewrite, UPSERT
    * version append, compaction, or regeneration (the SparkEntry
    * fitted-model-fixture discipline; recursive because partitioned
    * layouts keep data under partition subdirs, and object stores
    * return synthetic zero-mtime directory entries). */
  def dataVersion(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val f = fs(spark, path)
    val st = f.getFileStatus(p)
    // per-FILE (name, length, mtime) signatures folded commutatively
    // (listing order is not guaranteed across filesystems): totals
    // alone would miss a same-size in-place regeneration landing within
    // one mtime tick — with per-file signatures any changed, added,
    // renamed, or removed file moves the version
    def fileSig(name: String, l: Long, m: Long): Long = {
      var x = name.hashCode.toLong * 0x9E3779B97F4A7C15L
      x ^= l * 0xff51afd7ed558ccdL
      x ^= java.lang.Long.rotateLeft(m * 0xc4ceb9fe1a85ec53L, 31)
      x
    }
    var len = 0L
    var cnt = 0L
    var h = 0L
    if (st.isDirectory) {
      val it = f.listFiles(p, true)
      while (it.hasNext) {
        val s0 = it.next()
        len += s0.getLen
        cnt += 1L
        h += fileSig(s0.getPath.getName, s0.getLen, s0.getModificationTime)
      }
    } else {
      len = st.getLen
      cnt = 1L
      h = fileSig(st.getPath.getName, st.getLen, st.getModificationTime)
    }
    s"${java.lang.Long.toHexString(len)}_${java.lang.Long.toHexString(cnt)}_${java.lang.Long.toHexString(h)}"
  }

  /** Plan fingerprint (hex SHA-256, 16 bytes worth) — see the object
    * doc for what it covers. Rendered with maxFields = Int.MaxValue:
    * the default treeString truncates expression lists at
    * spark.sql.maxToStringFields (25), and two queries differing only
    * past the truncation point would collide — and silently serve each
    * other's results. */
  def fingerprint(df: DataFrame): String = fingerprintOf(df.queryExecution.analyzed)

  private def fingerprintOf(analyzed: LogicalPlan): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
    put(analyzed.canonicalized.treeString(true, false, Int.MaxValue, false))
    // canonicalization drops a relation's table identity and prints no
    // inline rows: fold both back in, in plan order
    analyzed.foreachWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          put("\u0000table:" + l.catalogTable.map(_.identifier.unquotedString).getOrElse(""))
          fs.location.rootPaths.map(_.toString).sorted.foreach(p => put("\u0000root:" + p))
        case _ => ()
      }
      case lr: LocalRelation =>
        put("\u0000local")
        val toBytes = UnsafeProjection.create(lr.schema)
        lr.data.foreach { r => md.update(toBytes(r).getBytes); put("\u0000") }
      case t: ResolvedInlineTable =>
        put("\u0000inline")
        t.rows.foreach(r => put(r.map(_.canonicalized.toString).mkString("\u0000", ",", "")))
      case _ => ()
    }
    hex16(md.digest())
  }

  private def hex16(digest: Array[Byte]): String = digest.take(16).map(b => f"$b%02x").mkString

  private def entryDir(cacheDir: String, fp: String, dataKey: String): String =
    s"$cacheDir/data=$dataKey/plan=$fp"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Session conf making entries EXPIRE on the read path (reference
    * CacheDescription `expireTimeout`): a lookup older than this many
    * milliseconds MISSES — and [[through]] then deletes the expired
    * entry before repopulating, so the rename-publish cannot "lose" to
    * a stale incumbent and serve it. [[vacuum]] remains the janitor
    * that reclaims the bytes; TTL is the freshness contract. Unset =
    * entries serve until invalidated/vacuumed (the r14 behavior). */
  val TtlMsKey = "graft.sql.resultCacheTtlMs"

  /** One parse for every long-valued cache conf: malformed values fail
    * fast with the key named, identically everywhere. */
  private def longConf(s: SparkSession, key: String): Option[Long] =
    s.conf.getOption(key).map(_.trim).filter(_.nonEmpty).map { v =>
      try v.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$key must be a long, got '$v'")
      }
    }

  private def ttlMs(s: SparkSession): Option[Long] = longConf(s, TtlMsKey)

  /** Populate stamp of a COMPLETE entry: the `_SUCCESS` marker's mtime
    * (committed last by the parquet committer) — ONE stat, not a
    * recursive walk, because [[lookup]] pays this on every TTL hit. */
  private def successMtime(f: org.apache.hadoop.fs.FileSystem, dir: Path): Long =
    f.getFileStatus(new Path(dir, "_SUCCESS")).getModificationTime

  private def isExpired(s: SparkSession, dir: String): Boolean =
    ttlMs(s).exists { ttl =>
      // one stat, not exists + stat: lookup already proved the marker
      // (and a concurrent delete between its check and this stat just
      // reads as not-expired — the repopulate path handles the rest)
      try successMtime(fs(s, dir), new Path(dir)) < System.currentTimeMillis() - ttl
      catch { case _: java.io.FileNotFoundException => false }
    }

  /** The cached result for (df's plan, dataKey), if a COMPLETE entry
    * exists (its `_SUCCESS` marker certifies the populate finished)
    * and it has not outlived the session's TTL ([[TtlMsKey]]). */
  def lookup(df: DataFrame, dataKey: String, cacheDir: String): Option[DataFrame] = {
    val s = df.sparkSession
    val dir = entryDir(cacheDir, fingerprint(df), dataKey)
    if (fs(s, dir).exists(new Path(dir, "_SUCCESS")) && !isExpired(s, dir))
      Some(s.read.parquet(dir))
    else None
  }

  /**
   * Execute-through-cache: serve the cached result when a complete
   * entry exists; otherwise run `df` once, persist it, and serve the
   * persisted copy (so the caller's second read costs the same as a
   * hit). Concurrent populates of the SAME entry are safe: each writes
   * a private staging dir and publishes with FileContext.rename, which
   * FAILS when the destination exists — the loser deletes its copy and
   * serves the winner's (two jobs overwriting one dir directly could
   * commit a UNION of both jobs' part files). Correctness rests on the
   * caller's `dataKey` actually versioning the inputs: the provided
   * SparkEntry/Upsert wiring derives it from the source files'
   * per-file (name, length, mtime) fingerprint, which every rewrite
   * changes.
   */
  def through(df: DataFrame, dataKey: String, cacheDir: String): DataFrame =
    lookup(df, dataKey, cacheDir).getOrElse {
      val s = df.sparkSession
      // parse the byte bound BEFORE the job runs: a malformed conf must
      // fail fast, not after the query's compute + publish succeeded
      val maxBytes = longConf(s, MaxBytesKey)
      val fp = fingerprint(df)
      val dir = entryDir(cacheDir, fp, dataKey)
      // An incumbent destination must go BEFORE the repopulate when it
      // is (a) TTL-expired — the rename-publish fails on an existing
      // destination and would fall into the serve-the-winner path,
      // serving exactly the stale entry the TTL miss rejected — or
      // (b) INCOMPLETE (no _SUCCESS): the rename protocol cannot
      // produce that state, so it is wreckage of a crashed recursive
      // delete, and without this self-heal it would poison the key
      // forever (rename fails, loser path finds no _SUCCESS, throws).
      // Two concurrent repopulates both delete; one publishes, the
      // loser serves the fresh winner.
      val f0 = fs(s, dir)
      val dp = new Path(dir)
      if (f0.exists(dp) && (!f0.exists(new Path(dir, "_SUCCESS")) || isExpired(s, dir))) {
        f0.delete(dp, true); ()
      }
      // dot-prefixed and NOT "plan="-prefixed: a staging dir must be
      // invisible to inventory()'s entry listing, and an orphaned stage
      // (crash before rename) is reclaimed with its data= dir
      val stage = s"$cacheDir/data=$dataKey/.populate_${fp}_${java.util.UUID.randomUUID().toString.take(8)}"
      df.write.mode("overwrite").parquet(stage)
      val f = fs(s, dir)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new Path(cacheDir).toUri, s.sparkContext.hadoopConfiguration)
      try fc.rename(new Path(stage), new Path(dir))
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.io.IOException =>
          // a concurrent populate won (or the rename failed) — drop the
          // stage; the lookup below must then find the winner's entry
          f.delete(new Path(stage), true)
          if (!f.exists(new Path(dir, "_SUCCESS")))
            throw new IllegalStateException(
              s"result-cache populate could not publish and no complete entry exists at $dir")
      }
      // size bound (see [[MaxBytesKey]]): enforced AFTER publish so a
      // concurrent reader never sees a half-trimmed cache missing the
      // newest entry; the listing walk is per-populate, which is the
      // rare/expensive path — hits never pay it
      maxBytes.foreach(enforceBound(s, cacheDir, _, dir))
      s.read.parquet(dir)
    }

  /** Session conf bounding the cache's total bytes: when set,
    * [[through]] evicts oldest-first after each populate until the
    * cache fits (the just-written entry is never evicted — the caller
    * is about to read it). The reference's CacheDescription carries
    * the same pair of limits (expiry → [[vacuum]], maxElements → this
    * bound, re-expressed in bytes because parquet results are
    * size-dominated, not count-dominated). */
  val MaxBytesKey = "graft.sql.resultCacheMaxBytes"

  /** Newest mtime under a dir, floored at the dir's own stamp — the
    * liveness stamp for populate STAGING dirs (an empty just-created
    * stage must read as "now", not epoch 0, or a janitor would sweep a
    * live populate out from under its writer). */
  private def stageMtime(f: org.apache.hadoop.fs.FileSystem, dir: Path): Long = {
    var m = f.getFileStatus(dir).getModificationTime
    val it = f.listFiles(dir, true)
    while (it.hasNext) m = math.max(m, it.next().getModificationTime)
    m
  }

  /** THE complete-entry listing — every entry walk (vacuum, byte bound,
    * inventory) goes through this one filter so the definitions of
    * "complete entry" can never drift apart: a `data=`/`plan=` dir pair
    * whose `_SUCCESS` marker exists; the stamp is the marker's mtime. */
  private def completeEntries(
      spark: SparkSession, cacheDir: String): Seq[(String, String, Path, Long)] = {
    val root = new Path(cacheDir)
    val f = fs(spark, cacheDir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).filter(st => st.isDirectory && st.getPath.getName.startsWith("data="))
      .flatMap { d =>
        f.listStatus(d.getPath)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("plan="))
          // stat under try: a concurrently deleted/invalidated entry
          // (another session's TTL repopulate or vacuum) must drop out
          // of the walk, not fail the whole listing
          .flatMap { p =>
            try Some((d.getPath.getName.stripPrefix("data="),
              p.getPath.getName.stripPrefix("plan="),
              p.getPath, successMtime(f, p.getPath)))
            catch { case _: java.io.FileNotFoundException => None }
          }
      }.toSeq
  }

  /** Every complete entry (dir, mtime, bytes), oldest first. */
  private def entries(
      spark: SparkSession, cacheDir: String): Seq[(Path, Long, Long)] = {
    val f = fs(spark, cacheDir)
    completeEntries(spark, cacheDir)
      .flatMap { case (_, _, p, m) =>
        try Some((p, m, f.getContentSummary(p).getLength))
        catch { case _: java.io.FileNotFoundException => None }
      }
      .sortBy(e => (e._2, e._1.toString))
  }

  /** Delete empty `data=` dirs left behind by entry eviction. */
  private def sweepEmptyDataDirs(spark: SparkSession, cacheDir: String): Unit = {
    val root = new Path(cacheDir)
    val f = fs(spark, cacheDir)
    if (f.exists(root))
      f.listStatus(root).filter(st => st.isDirectory && st.getPath.getName.startsWith("data="))
        .foreach { d => if (f.listStatus(d.getPath).isEmpty) f.delete(d.getPath, false) }
  }

  /**
   * Age-based eviction (the reference CacheDescription `expireTimeout`
   * re-expressed for a parquet-entry cache): drop every COMPLETE entry
   * older than `olderThanMs`, floored by [[EvictionGraceMs]] (a bare
   * VACUUM reclaims everything outside the concurrency grace window —
   * see the cutoff comment), plus orphaned populate staging dirs past
   * the same cutoff (a
   * crash between write and rename leaves one; sweeping live stages
   * would race an in-flight populate, so only aged ones go). Returns
   * (entries removed, bytes removed). An unattended dashboard tier
   * otherwise accretes dead `data=<key>` generations forever — this is
   * the statement a janitor cron runs.
   */
  def vacuum(spark: SparkSession, cacheDir: String, olderThanMs: Option[Long]): (Long, Long) = {
    val f = fs(spark, cacheDir)
    // Complete entries share the stage sweep's grace floor: without it a
    // bare VACUUM (cutoff "now") racing an in-flight through() could
    // delete the entry that populate just published, BETWEEN its rename
    // and its read-back — failing a query that cached successfully, the
    // exact race enforceBound's grace window exists to prevent. VACUUM
    // is the janitor ("reclaim cold entries"); the immediate full drop
    // is INVALIDATE RESULT CACHE's job.
    val cutoff = System.currentTimeMillis() -
      math.max(olderThanMs.getOrElse(0L), EvictionGraceMs)
    var n = 0L
    var bytes = 0L
    entries(spark, cacheDir).foreach { case (dir, mtime, len) =>
      if (mtime < cutoff) { bytes += len; n += 1L; f.delete(dir, true); () }
    }
    // aged orphan stages (dot-prefixed — invisible to entries/inventory).
    // A LIVE stage must survive the sweep: its cutoff is floored by the
    // eviction grace window (a bare VACUUM's cutoff is "now", and an
    // in-flight populate's stage is seconds old), and its stamp is
    // floored by the stage dir's own mtime (an empty just-created stage
    // has no files — a 0 stamp would read as infinitely old).
    val stageCutoff = System.currentTimeMillis() -
      math.max(olderThanMs.getOrElse(0L), EvictionGraceMs)
    val root = new Path(cacheDir)
    if (f.exists(root))
      f.listStatus(root).filter(st => st.isDirectory && st.getPath.getName.startsWith("data="))
        .foreach { d =>
          f.listStatus(d.getPath).foreach { st =>
            val name = st.getPath.getName
            // orphan stages, and INCOMPLETE plan= dirs (no _SUCCESS —
            // wreckage of a crashed recursive delete; through() also
            // self-heals these per-key, this is the janitor's sweep) —
            // both only past the grace-floored cutoff, so nothing
            // in-flight is swept
            val sweepable = st.isDirectory && (name.startsWith(".populate_") ||
              (name.startsWith("plan=") && !f.exists(new Path(st.getPath, "_SUCCESS"))))
            // stat + delete under try: another session's through()
            // self-heal or a concurrent vacuum can remove the dir
            // between this listing and the stat — that entry simply
            // drops out of the sweep (completeEntries guards the same
            // race on the entry walk)
            if (sweepable)
              try {
                if (stageMtime(f, st.getPath) < stageCutoff)
                  f.delete(st.getPath, true)
              } catch { case _: java.io.FileNotFoundException => () }
          }
        }
    sweepEmptyDataDirs(spark, cacheDir)
    (n, bytes)
  }

  /** A just-published entry another populate may still be reading back
    * is off-limits to the byte bound for this long: eviction targets
    * COLD entries, and a concurrent populate's read-back completes in
    * well under this window — without it, two simultaneous populates
    * over a tight bound could evict each other's fresh entries mid-read
    * and fail queries that cached successfully. Makes the bound SOFT
    * under concurrent write bursts (by at most the burst's bytes),
    * which is the right trade for a cache. */
  private val EvictionGraceMs = 15L * 60L * 1000L

  /** Oldest-first eviction until the cache's total bytes fit
    * `maxBytes`; `keep` (the entry just populated) is never evicted,
    * nor is anything newer than [[EvictionGraceMs]]. */
  private def enforceBound(
      spark: SparkSession, cacheDir: String, maxBytes: Long, keep: String): Unit = {
    val f = fs(spark, cacheDir)
    // listStatus returns QUALIFIED paths (scheme + authority); qualify
    // `keep` the same way or the just-written entry never matches and
    // gets evicted out from under its own read-back
    val keepQ = f.makeQualified(new Path(keep))
    val fresh = System.currentTimeMillis() - EvictionGraceMs
    val all = entries(spark, cacheDir)
    var total = all.map(_._3).sum
    val it = all.iterator
    while (total > maxBytes && it.hasNext) {
      val (dir, mtime, len) = it.next()
      if (dir != keepQ && mtime < fresh) {
        f.delete(dir, true)
        total -= len
      }
    }
    sweepEmptyDataDirs(spark, cacheDir)
  }

  /** Drop every entry of one data version — the UPSERT/rollup-refresh
    * maintenance hook: the new version's keys differ anyway, this
    * reclaims the unreachable old-version entries. */
  def invalidateData(spark: SparkSession, cacheDir: String, dataKey: String): Unit = {
    val dir = s"$cacheDir/data=$dataKey"
    fs(spark, dir).delete(new Path(dir), true)
    ()
  }

  /** Drop the whole cache. */
  def invalidateAll(spark: SparkSession, cacheDir: String): Unit = {
    fs(spark, cacheDir).delete(new Path(cacheDir), true)
    ()
  }

  /** Inventory of the cache at `cacheDir`: one row per complete entry
    * (data_key, plan_fp, bytes, files) — the SHOW RESULT CACHE
    * statement's backing. */
  def inventory(spark: SparkSession, cacheDir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(cacheDir)
    val f = fs(spark, cacheDir)
    val rows = completeEntries(spark, cacheDir).flatMap { case (dk, fp, p, _) =>
      try { val cs = f.getContentSummary(p); Some((dk, fp, cs.getLength, cs.getFileCount)) }
      catch { case _: java.io.FileNotFoundException => None }
    }
    rows.toDF("data_key", "plan_fp", "bytes", "files")
      .orderBy("data_key", "plan_fp")
  }

  // ---- in-memory tier -----------------------------------------------

  /** Rendered result bytes one in-memory entry may hold (1 MiB): a
    * larger result streams on uncached. */
  val EntryMaxBytes: Long = 1L << 20

  /** Bytes the whole in-memory tier may hold (64 MiB), LRU-evicted. */
  val TierMaxBytes: Long = 64L << 20

  private final case class TierKey(plan: String, conf: String, user: String, inputs: String)

  /** Stored rows and the bytes they count against the bounds: the
    * rendered result plus the key. */
  private final class Stored(val rows: IndexedSeq[Row], val bytes: Long)

  // access-ordered, so iteration runs least-recently-used first; every
  // access holds its monitor, which also guards `tierBytes`
  private val tier = new java.util.LinkedHashMap[TierKey, Stored](16, 0.75f, true)
  private var tierBytes = 0L
  private val hits = new java.util.concurrent.atomic.AtomicLong
  private val misses = new java.util.concurrent.atomic.AtomicLong
  private val bypassed = new java.util.concurrent.atomic.AtomicLong

  /** The in-memory tier's size and its lookup counters since start —
    * the backing of `SHOW RESULT CACHE` without a directory. */
  final case class TierStats(entries: Long, bytes: Long, hits: Long, misses: Long, bypassed: Long)

  def tierStats: TierStats = tier.synchronized {
    TierStats(tier.size.toLong, tierBytes, hits.get, misses.get, bypassed.get)
  }

  /** One statement's rows under the in-memory tier: the stored rows on
    * a hit, the live execution otherwise. The caller reports each row
    * it sent, with its rendered size, through [[retain]], and calls
    * [[complete]] once `rows` is exhausted; an error or cancel before
    * that publishes nothing. */
  final class Served private[ResultCache] (val rows: Iterator[Row], key: Option[TierKey]) {
    private var kept: ArrayBuffer[Row] = key.map(_ => ArrayBuffer.empty[Row]).orNull
    private var bytes = key.fold(0L)(k => k.productIterator.map(_.toString.length.toLong).sum)

    def retain(row: Row, renderedBytes: Int): Unit =
      if (kept != null) {
        bytes += renderedBytes
        if (bytes > EntryMaxBytes) kept = null // past the entry bound: stop retaining
        else kept += row
      }

    def complete(): Unit =
      if (kept != null) {
        publish(key.get, new Stored(kept.toIndexedSeq, bytes))
        kept = null
      }
  }

  /** Rows of `df` through the in-memory tier (see the object doc). */
  def serve(df: DataFrame): Served = {
    import scala.jdk.CollectionConverters._
    def run = df.toLocalIterator().asScala
    tierKey(df) match {
      case None =>
        bypassed.incrementAndGet()
        new Served(run, None)
      case Some(k) =>
        tier.synchronized(Option(tier.get(k))) match {
          case Some(s) =>
            hits.incrementAndGet()
            new Served(s.rows.iterator, None)
          case None =>
            misses.incrementAndGet()
            new Served(run, Some(k))
        }
    }
  }

  private def publish(k: TierKey, s: Stored): Unit = tier.synchronized {
    Option(tier.put(k, s)).foreach(old => tierBytes -= old.bytes)
    tierBytes += s.bytes
    val lru = tier.values.iterator
    while (tierBytes > TierMaxBytes && lru.hasNext) {
      tierBytes -= lru.next().bytes
      lru.remove()
    }
  }

  private def sha(s: String): String =
    hex16(java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8)))

  /** The tier key of `df`, or None when the plan bypasses the tier. A
    * key that cannot be computed (say, a listing error) bypasses too:
    * the execution then meets the same condition and reports it. */
  private def tierKey(df: DataFrame): Option[TierKey] =
    try {
      val qe = df.queryExecution
      val analyzed = qe.analyzed
      if (analyzed.isStreaming || !repeatable(analyzed)) None
      else scannedFiles(qe.optimizedPlan).map { files =>
        val s = df.sparkSession
        val conf = s.sessionState.conf.getAllConfs.toSeq.filter(_._1.startsWith("spark.sql.")).sorted
        TierKey(
          fingerprintOf(analyzed),
          sha(conf.map { case (k, v) => s"$k=$v" }.mkString("\u0000")),
          s.conf.getOption(graft.sql.GraftAuth.UserConfKey).getOrElse(""),
          sha(files.sorted.map { case (p, l, m) => s"$p\u0000$l\u0000$m" }.mkString("\u0000")))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** No command node, and no expression that can answer differently
    * on re-execution over the same inputs: non-deterministic,
    * current-time/date/user, or user-defined. */
  private def repeatable(plan: LogicalPlan): Boolean = {
    def volatile(e: Expression): Boolean =
      !e.deterministic || e.containsPattern(CURRENT_LIKE) || (e match {
        case _: UserDefinedExpression | _: CurrentTimestampLike | _: CurrentDate | _: LocalTimestamp |
            _: CurrentTimeZone | _: CurrentUser => true
        case _ => false
      })
    var ok = true
    plan.foreachWithSubqueries { p =>
      if (p.isInstanceOf[Command] || p.isInstanceOf[CommandResult] || p.expressions.exists(_.exists(volatile)))
        ok = false
    }
    ok
  }

  /** (path, length, mtime) of every file the optimized plan's file
    * relations would scan, or None when some leaf is not a file
    * relation, LocalRelation or OneRowRelation. A relation's listing
    * takes the partition conjuncts directly above it, as the scan's
    * own listing does; a conjunct it cannot attribute only widens the
    * listing, so the version always covers every file read. */
  private def scannedFiles(plan: LogicalPlan): Option[Seq[(String, Long, Long)]] = {
    val files = ArrayBuffer.empty[(String, Long, Long)]
    var ok = true
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def walk(p: LogicalPlan, conds: Seq[Expression]): Unit = if (ok) {
      p.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => walk(sq.plan, Nil)
        case _ => ()
      })
      p match {
        case Filter(c, child) => walk(child, conds ++ conjuncts(c))
        case Project(_, child) => walk(child, conds)
        case l: LogicalRelation if !l.isStreaming && l.relation.isInstanceOf[HadoopFsRelation] =>
          val fs = l.relation.asInstanceOf[HadoopFsRelation]
          val partCols = AttributeSet(l.output.filter(a => fs.partitionSchema.fieldNames.contains(a.name)))
          val partFilters = conds.filter(c =>
            c.references.nonEmpty && c.references.subsetOf(partCols) && !SubqueryExpression.hasSubquery(c))
          fs.location.listFiles(partFilters, Nil).foreach(_.files.foreach { f =>
            files += ((f.getPath.toString, f.fileStatus.getLen, f.fileStatus.getModificationTime))
          })
        case lr: LocalRelation if !lr.isStreaming => ()
        case _: OneRowRelation => ()
        case leaf if leaf.children.isEmpty => ok = false
        case other => other.children.foreach(walk(_, Nil))
      }
    }
    walk(plan, Nil)
    if (ok) Some(files.toSeq) else None
  }
}
