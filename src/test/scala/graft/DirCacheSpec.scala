package graft

import java.io.File
import graft.core.DirCache

/** DirCache's residency contracts, which every cached index-meta read
  * relies on: a 512-entry LRU bound, reload after eviction, no entry
  * outliving its deleted dir, and prefix invalidation. */
class DirCacheSpec extends SparkSpecBase {

  /** `root/name` holding one small file — a fingerprintable dir. */
  private def mkDir(root: String, name: String): String = {
    val d = new File(root, name)
    d.mkdirs()
    java.nio.file.Files.write(new File(d, "part-0").toPath, name.getBytes("UTF-8"))
    d.getPath
  }

  test("the 513th entry evicts the least recently used one, which then reloads the current value") {
    val root = tempDir("dircache_lru")
    val dirs = (0 to 512).map(i => mkDir(root, s"d$i"))
    // 512 entries fill the cache (anything older is evicted)
    dirs.take(512).foreach(d => DirCache.cached(spark, d)(s"v1:$d"))
    // touch d0, so d1 is now the least recently used
    assert(DirCache.cached(spark, dirs(0))("reloaded") == s"v1:${dirs(0)}")
    DirCache.cached(spark, dirs(512))(s"v1:${dirs(512)}")
    assert(DirCache.cached(spark, dirs(0))("reloaded") == s"v1:${dirs(0)}",
      "a recently used entry must survive the 513th insert")
    assert(DirCache.cached(spark, dirs(1))("v2") == "v2",
      "the evicted eldest entry must reload the loader's current value")
    assert(DirCache.cached(spark, dirs(511))("reloaded") == s"v1:${dirs(511)}",
      "only the eldest entry is evicted")
  }

  test("a deleted dir drops its entry, and the loader's own error surfaces") {
    val root = tempDir("dircache_del")
    val d = mkDir(root, "meta")
    val part = new File(d, "part-0")
    // recreate `d` with the same names, lengths and mtimes: the same
    // fingerprint, so only a dropped entry can tell the two apart
    def recreate(): Unit = {
      val mtime = part.lastModified()
      org.apache.commons.io.FileUtils.deleteDirectory(new File(d))
      mkDir(root, "meta")
      part.setLastModified(mtime)
    }
    // control: recreated unseen, the identical fingerprint hits
    assert(DirCache.cached(spark, d)("v1") == "v1")
    recreate()
    assert(DirCache.cached(spark, d)("v2") == "v1")
    // seen while deleted: the loader's error surfaces, the entry drops
    org.apache.commons.io.FileUtils.deleteDirectory(new File(d))
    val err = intercept[IllegalStateException] {
      DirCache.cached(spark, d)(throw new IllegalStateException("loader: no meta"))
    }
    assert(err.getMessage == "loader: no meta")
    mkDir(root, "meta")
    assert(DirCache.cached(spark, d)("v3") == "v3", "the deleted dir's entry must be gone")
  }

  test("invalidateUnder removes the dir's own and its children's entries, not a prefix sibling's") {
    val root = tempDir("dircache_inv")
    val own = mkDir(root, "idx")
    val child = mkDir(root, "idx/sigs/shard=a")
    val sibling = mkDir(root, "idx2/meta")
    Seq(own, child, sibling).foreach(d => DirCache.cached(spark, d)("v1"))
    DirCache.invalidateUnder(s"$root/idx")
    assert(DirCache.cached(spark, own)("v2") == "v2")
    assert(DirCache.cached(spark, child)("v2") == "v2")
    assert(DirCache.cached(spark, sibling)("v2") == "v1", "idx2 is not under idx")
  }

  test("parquetRowCount counts committed rows only: no sidecar, marker or _temporary file") {
    import spark.implicits._
    val root = tempDir("dircache_rows")
    (1 to 5).toDF("id").write.parquet(s"$root/sigs/shard=a")
    (1 to 3).toDF("id").write.parquet(s"$root/sigs/shard=b")
    // an in-flight write's partial file and a sidecar beside the data
    val part = new File(s"$root/sigs/shard=a").listFiles().filter(_.getName.startsWith("part-")).head
    val tmp = new File(s"$root/sigs/shard=a/_temporary/0")
    tmp.mkdirs()
    java.nio.file.Files.write(new File(tmp, "part-99.parquet").toPath, "torn".getBytes("UTF-8"))
    java.nio.file.Files.copy(part.toPath, new File(s"$root/sigs/shard=b/_bands_bloom").toPath)
    assert(DirCache.parquetRowCount(spark, s"$root/sigs") == 8L)
    assert(spark.read.parquet(s"$root/sigs").count() == 8L)
  }

  test("parquetSchema is the inferred schema of a written dir, read from one footer with no job") {
    import spark.implicits._
    val dir = tempDir("dircache_schema") + "/t"
    Seq((1L, Seq(1, 2), "x", 0.5, "p1"), (2L, Seq(3), null, -0.0, "p2"))
      .toDF("id", "sig", "s", "d", "part").write.partitionBy("part").parquet(dir)
    val c = new JobCounter(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    try {
      val (jobs, _) = c.jobsAndLabels(assert(DirCache.parquetSchema(spark, dir).isDefined))
      assert(jobs == 0L, "the footer read is driver-side")
    } finally spark.sparkContext.removeSparkListener(c)
    val inferred = spark.read.parquet(dir)
    val read = DirCache.reader(spark, dir).parquet(dir)
    assert(read.schema == inferred.schema)
    assert(read.collect().map(_.toString).sorted.toSeq == inferred.collect().map(_.toString).sorted.toSeq)
    // no data file yet: the caller lets Spark infer
    assert(DirCache.parquetSchema(spark, tempDir("dircache_schema_empty")).isEmpty)
  }
}
