package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/**
 * The shard-dir store every admitted index runs on: the text signature
 * index (`Dedup`), the vector delta (`Ann`) and the postings index
 * (`Retrieval`). Admission writes one `shard=<label>` dir per shard
 * under a tree root; maintenance folds committed shards into a base.
 * This object owns the naming, the committed-shard predicate, the fold
 * marker and list, and the one fold protocol; a family supplies only
 * its stage and install bodies.
 *
 * The fold protocol ([[fold]]), restartable from any crash and safe
 * under concurrent admission without a transaction log:
 *  1. If `<home>/promoting/__folded_shards` exists, a previous attempt's
 *     stage is complete: resume from it. Otherwise clear any list-less
 *     `promoting/` (a stage that crashed before its list), snapshot the
 *     committed shards, stage the fold of exactly that snapshot into
 *     `promoting/`, and then write the list of its dir names LAST — the
 *     list's presence certifies a complete stage.
 *  2. Run `afterStage` (the crash-window test seam).
 *  3. Install: rewrite the base from the stage (idempotent).
 *  4. Delete only the listed dirs, under each tree root.
 *  5. Delete `promoting/` last.
 *
 * Crash windows. Before the list exists the serve tree is untouched and
 * a restart re-stages from a fresh snapshot. Once it exists, a restart
 * folds the SAME shards: a shard committed after the snapshot is
 * neither staged nor deleted and survives for the next fold (re-listing
 * at restart would delete it without its rows ever being staged).
 * Between install and step 5 a row may sit in the base AND in a listed
 * shard; a reader that cannot tolerate the duplicate collapses identity
 * while [[folding]] holds — the marker exists from the stage's first
 * write until step 5 — so the steady state pays nothing for it.
 * Single maintainer per index: two concurrent folds of one home are
 * not supported.
 */
object ShardStore {
  /** The fold marker and stage dir under a family's home. */
  val Marker = "promoting"
  private val FoldList = "__folded_shards"

  /** The dir name a shard label lands in. Labels are user strings in a
    * partition-dir name ('/', '=', '%' must not change the path), so
    * they take Spark's own partition escaping: discovery reads the
    * value back verbatim. */
  def dirName(label: String): String =
    "shard=" + ExternalCatalogUtils.escapePathName(label)

  /** The label of a shard dir: the inverse of [[dirName]]. */
  def label(dir: Path): String =
    ExternalCatalogUtils.unescapePathName(dir.getName.stripPrefix("shard="))

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  private def listing(fs: FileSystem, dir: Path): Array[FileStatus] =
    try fs.listStatus(dir)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** A dir is committed when its job wrote `_SUCCESS` and it holds at
    * least one non-hidden data file, directly or one `k=v` partition
    * level down. The marker alone is not enough: an empty admitted
    * batch commits `_SUCCESS` with no data file, and an explicit-path
    * read of such a dir fails schema inference. Data without the marker
    * is a write still in flight (or a crashed one, which its replay
    * overwrites): it is neither read, folded nor deleted. */
  private def isCommitted(fs: FileSystem, dir: Path): Boolean = {
    val sts = listing(fs, dir)
    def data(st: FileStatus) = st.isFile && !hidden(st.getPath.getName)
    sts.exists(_.getPath.getName == "_SUCCESS") && (sts.exists(data) || sts.exists { st =>
      val n = st.getPath.getName
      st.isDirectory && !hidden(n) && n.contains('=') && listing(fs, st.getPath).exists(data)
    })
  }

  def isCommitted(spark: SparkSession, dir: String): Boolean =
    isCommitted(fsOf(spark, dir), new Path(dir))

  private def committedUnder(fs: FileSystem, root: Path, prefix: String): Iterator[Path] =
    listing(fs, root).iterator.map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) && isCommitted(fs, p))

  /** The committed `shard=` dirs under a tree root (empty when the root
    * does not exist). Maintenance reads and deletes only these. */
  def committed(spark: SparkSession, root: String): Array[Path] =
    committedUnder(fsOf(spark, root), new Path(root), "shard=").toArray

  /** Whether any `prefix`-named dir under `root` is committed; stops at
    * the first one. */
  def anyCommitted(spark: SparkSession, root: String, prefix: String): Boolean =
    committedUnder(fsOf(spark, root), new Path(root), prefix).hasNext

  /** True while a fold of `home` is between its stage's first write and
    * its last step — the window in which a row may be held twice. */
  def folding(spark: SparkSession, home: String): Boolean =
    fsOf(spark, home).exists(new Path(home, Marker))

  /** The dir names a complete stage of `home` folds, if one exists. */
  def foldList(spark: SparkSession, home: String): Option[Set[String]] =
    readList(fsOf(spark, home), new Path(new Path(home, Marker), FoldList)).map(_.toSet)

  private def readList(fs: FileSystem, list: Path): Option[Array[String]] =
    if (!fs.exists(list)) None
    else {
      val in = fs.open(list)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toArray)
      finally in.close()
    }

  /**
   * Fold the committed shards of `trees` into a base, by the protocol
   * in this object's doc. The snapshot lists `trees.head` (a family
   * with several trees names the one it commits LAST first, so a listed
   * shard is complete in every tree); `keep` names dirs that are never
   * folded (a base living inside the tree). `stage` receives the stage
   * dir and the snapshot dirs and must read exactly those; `install`
   * receives the stage dir. Returns the number of shards folded, 0 when
   * there was nothing to fold.
   */
  def fold(
      spark: SparkSession,
      home: String,
      trees: Seq[String],
      afterStage: () => Unit,
      keep: Set[String] = Set.empty
  )(stage: (String, Array[Path]) => Unit)(install: String => Unit): Int = {
    val fs = fsOf(spark, home)
    val stageDir = new Path(home, Marker)
    val list = new Path(stageDir, FoldList)
    val names = readList(fs, list) match {
      case Some(resumed) => resumed
      case None =>
        fs.delete(stageDir, true)
        val snap = committedUnder(fs, new Path(trees.head), "shard=")
          .filterNot(p => keep(p.getName)).toArray
        if (snap.isEmpty) return 0
        stage(stageDir.toString, snap)
        val out = fs.create(list, false)
        try out.write(snap.map(_.getName).mkString("\n").getBytes("UTF-8"))
        finally out.close()
        snap.map(_.getName)
    }
    afterStage()
    install(stageDir.toString)
    for (t <- trees; n <- names) fs.delete(new Path(t, n), true)
    fs.delete(stageDir, true)
    names.length
  }
}
