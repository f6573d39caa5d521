package graft

import org.apache.spark.sql.functions._
import graft.operators.Dsir

/** DSIR importance resampling (round-10 operator). */
class DsirSpec extends SparkSpecBase {

  /** Independent md5 bucket recompute: first 3 bytes (6 hex chars) of
    * md5(UTF-8 bytes) as an integer, mod buckets. */
  private def md5bucket(w: String, b: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(w.getBytes("UTF-8"))
    val hex = d.take(3).map(x => f"$x%02x").mkString
    java.lang.Long.parseLong(hex, 16) % b
  }

  private def tok(s: String): Seq[String] = s.split(" ").filter(_.nonEmpty).toSeq

  /** Local exact recompute of (doc_tokens, logw_q) for the raw pool —
    * mirrors Dsir.ratioQ's operand structure exactly. */
  private def localScores(
      corpus: Seq[(Long, String, Boolean)], b: Int): Map[Long, (Long, Long)] = {
    val tgt = corpus.filter(_._3).flatMap(d => tok(d._2)).map(md5bucket(_, b))
    val raw = corpus.filterNot(_._3).flatMap(d => tok(d._2)).map(md5bucket(_, b))
    val ct = tgt.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = raw.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (nt, nr) = (tgt.size.toLong, raw.size.toLong)
    def rq(bk: Long): Long = math.floor(math.log(
      ((ct.getOrElse(bk, 0L) + 1).toDouble * (nr + b).toDouble) /
        ((cr.getOrElse(bk, 0L) + 1).toDouble * (nt + b).toDouble)) * 1000000.0).toLong
    corpus.filterNot(_._3).map { d =>
      val bs = tok(d._2).map(md5bucket(_, b))
      d._1 -> (bs.size.toLong, bs.map(rq).sum)
    }.toMap
  }

  private val corpus = Seq(
    (101L, "alpha beta gamma delta", true),
    (102L, "alpha beta gamma delta epsilon", true),
    (103L, "alpha beta delta", true),
    (1L, "alpha beta gamma", false),
    (2L, "alpha beta", false),
    (3L, "omega psi chi phi omega psi", false),
    (4L, "omega psi", false))

  test("bucket hash matches an independent md5 recompute, incl. non-ASCII") {
    import spark.implicits._
    val words = Seq("hash", "join", "vector", "straße", "中文", "a1b2")
    val got = words.toDF("w").select(col("w"), Dsir.bucket(col("w"), 4096).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (w <- words) assert(got(w) == md5bucket(w, 4096), s"bucket mismatch for '$w'")
  }

  test("select scores are the exact local recompute and rank target-like docs first") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text", "is_t")
    val out = Dsir.select(docs, "doc_id", "text", col("is_t"), buckets = 4096, k = 4)
      .orderBy(col("rank")).collect()
    val expect = localScores(corpus, 4096)
    assert(out.length == 4)
    for (r <- out) {
      val (dt, lw) = expect(r.getLong(0))
      assert(r.getLong(1) == dt && r.getLong(2) == lw, s"doc ${r.getLong(0)}")
      assert(r.getDouble(3) == lw.toDouble / 1000000.0)
    }
    // ordering: exact quantized weight desc, doc_id asc
    val ordered = expect.toSeq.sortBy { case (id, (_, lw)) => (-lw, id) }.map(_._1)
    assert(out.map(_.getLong(0)).toSeq == ordered)
    // semantics: the target-vocabulary docs outrank the off-vocabulary ones
    assert(out.map(_.getLong(0)).take(2).toSet == Set(1L, 2L))
    assert(expect(1L)._2 > 0 && expect(3L)._2 < 0)
  }

  test("fit + scoreWithModel equals the inline scores; unseen buckets use the stored default") {
    import spark.implicits._
    val b = 4096
    val path = tempPath("dsir_model")
    val docs = corpus.toDF("doc_id", "text", "is_t")
    Dsir.fit(docs, "doc_id", "text", col("is_t"), b, path)
    val served = Dsir.scoreWithModel(docs.filter(!col("is_t")), "doc_id", "text", path)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(served == localScores(corpus, b))

    // a doc whose every token bucket is unseen scores tf * default_q
    val seen = corpus.flatMap(d => tok(d._2)).map(md5bucket(_, b)).toSet
    val novel = (1 to 1000).map(i => s"novelword$i")
      .filter(w => !seen.contains(md5bucket(w, b))).take(2)
    assert(novel.size == 2)
    val (nt, nr) = (corpus.filter(_._3).flatMap(d => tok(d._2)).size.toLong,
      corpus.filterNot(_._3).flatMap(d => tok(d._2)).size.toLong)
    val defQ = math.floor(math.log((nr + b).toDouble / (nt + b).toDouble) * 1000000.0).toLong
    val out = Dsir.scoreWithModel(
      Seq((9L, s"${novel(0)} ${novel(1)} ${novel(0)}"), (10L, "")).toDF("doc_id", "text"),
      "doc_id", "text", path).collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(9L) == ((3L, 3L * defQ)))
    assert(out(10L) == ((0L, 0L)), "zero-token doc reports 0 tokens / 0 evidence, not a dropped row")
  }

  test("refit is zero-downtime: generation advances, old gens pruned only after the commit") {
    import spark.implicits._
    val b = 512
    val path = tempPath("dsir_refit")
    val corpusA = Seq((1L, "alpha beta", true), (2L, "alpha gamma", false)).toDF("doc_id", "text", "is_t")
    val corpusB = Seq((1L, "omega psi", true), (2L, "omega chi", false), (3L, "psi chi", false))
      .toDF("doc_id", "text", "is_t")
    Dsir.fit(corpusA, "doc_id", "text", col("is_t"), b, path)
    assert(Dsir.readMetaRow(spark, path).getAs[Long]("generation") == 0L)
    // refit on NEW data: lands as generation 1 (never wipes the path
    // first — a crash mid-refit leaves gen 0 serving), serves B's
    // counts, and prunes gen 0 only after its own meta committed
    Dsir.fit(corpusB, "doc_id", "text", col("is_t"), b, path)
    val m = Dsir.readMetaRow(spark, path)
    assert(m.getAs[Long]("generation") == 1L && m.getAs[String]("batch") == "__fit")
    assert(m.getAs[Long]("nt") == 2L && m.getAs[Long]("nr") == 4L, s"refit must serve corpus B: $m")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/gen=0")), "pre-refit generation pruned")
    // over-cap bucket counts are rejected loudly (driver-collect bound)
    val big = intercept[IllegalArgumentException](
      Dsir.fit(corpusA, "doc_id", "text", col("is_t"), (1 << 20) + 1, path))
    assert(big.getMessage.contains("buckets"))
  }

  test("incremental update equals the from-scratch refit; replay and crash windows converge") {
    import spark.implicits._
    val b = 4096
    val p1 = tempPath("dsir_upd")
    val p2 = p1 + "_full"
    val base = corpus.toDF("doc_id", "text", "is_t")
    val batch1 = Seq((20L, "alpha omega", false), (21L, "beta beta gamma", true))
      .toDF("doc_id", "text", "is_t")
    val batch2 = Seq((30L, "delta psi epsilon", false)).toDF("doc_id", "text", "is_t")
    Dsir.fit(base, "doc_id", "text", col("is_t"), b, p1)
    Dsir.update(batch1, "doc_id", "text", col("is_t"), p1, "b1")
    Dsir.update(batch2, "doc_id", "text", col("is_t"), p1, "b2")
    Dsir.fit(base.unionByName(batch1).unionByName(batch2), "doc_id", "text", col("is_t"), b, p2)
    // bucket counts are additive → the updated model is EXACTLY the
    // from-scratch refit on the union: identical stored ratios...
    def ratios(p: String) = Dsir.ratiosOf(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(ratios(p1) == ratios(p2))
    // ...and identical serving scores on a fresh probe
    val probe = Seq((90L, "alpha beta omega"), (91L, "psi epsilon")).toDF("doc_id", "text")
    def served(p: String) = Dsir.scoreWithModel(probe, "doc_id", "text", p)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(served(p1) == served(p2))
    assert(Dsir.readMetaRow(spark, p1).getAs[Long]("generation") == 2L)

    // replaying an already-applied batch label is a no-op
    Dsir.update(batch2, "doc_id", "text", col("is_t"), p1, "b2")
    assert(Dsir.readMetaRow(spark, p1).getAs[Long]("generation") == 2L)

    // a crashed update leaves a meta-less partial generation: invisible
    // to serving, overwritten by the replay
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$p1/gen=3/counts"))
    assert(served(p1) == served(p2), "partial generation must not serve")
    assert(Dsir.readMetaRow(spark, p1).getAs[Long]("generation") == 2L)
    val batch3 = Seq((40L, "chi phi", false)).toDF("doc_id", "text", "is_t")
    Dsir.update(batch3, "doc_id", "text", col("is_t"), p1, "b3")
    val m = Dsir.readMetaRow(spark, p1)
    assert(m.getAs[Long]("generation") == 3L && m.getAs[String]("batch") == "b3")
    // older generations pruned after the new one serves
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p1/gen=1")))
  }

  test("streaming twin: batch reports equal the batch scoreWithModel, replay-safe sink") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val b = 4096
    val path = tempPath("dsir_smodel")
    val report = tempPath("dsir_sreport")
    val ckpt = tempPath("dsir_sckpt")
    Dsir.fit(corpus.toDF("doc_id", "text", "is_t"), "doc_id", "text", col("is_t"), b, path)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDsir.run(
      spark, mem.toDF().toDF("doc_id", "text"), path, report, minLogw = 0.0, checkpoint = ckpt)
    try {
      mem.addData((11L, "alpha beta gamma"), (12L, "omega psi"))
      q.processAllAvailable()
      mem.addData((13L, "alpha alpha alpha"))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(report)
      .select("doc_id", "doc_tokens", "logw_q", "keep")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val batchEq = Dsir.scoreWithModel(
      Seq((11L, "alpha beta gamma"), (12L, "omega psi"), (13L, "alpha alpha alpha"))
        .toDF("doc_id", "text"), "doc_id", "text", path)
      .withColumn("keep", col("logw") >= lit(0.0))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(got == batchEq)
    assert(got(11L)._3 && !got(12L)._3, "target-like kept, off-distribution rejected")
  }

  test("scoring stream picks up a mid-stream model refresh on the next trigger, no restart") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val b = 4096
    val path = tempPath("dsir_live")
    val report = tempPath("dsir_livereport")
    val ckpt = tempPath("dsir_liveckpt")
    Dsir.fit(corpus.toDF("doc_id", "text", "is_t"), "doc_id", "text", col("is_t"), b, path)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDsir.run(
      spark, mem.toDF().toDF("doc_id", "text"), path, report, minLogw = 0.0, checkpoint = ckpt)
    try {
      mem.addData((11L, "alpha beta gamma"))
      q.processAllAvailable()
      val gen0 = spark.read.parquet(report).select("logw_q").head().getLong(0)
      // refresh the model between triggers: a target-heavy batch shifts
      // every ratio (nt grows), so the same probe scores differently
      Dsir.update(Seq((50L, "alpha alpha beta beta gamma", true)).toDF("doc_id", "text", "is_t"),
        "doc_id", "text", col("is_t"), path, "mid")
      mem.addData((12L, "alpha beta gamma"))
      q.processAllAvailable()
      val got = spark.read.parquet(report)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("logw_q")).toMap
      val refreshed = Dsir.scoreWithModel(
        Seq((12L, "alpha beta gamma")).toDF("doc_id", "text"), "doc_id", "text", path)
        .head().getAs[Long]("logw_q")
      assert(got(11L) == gen0, "pre-refresh batch partition untouched")
      assert(got(12L) == refreshed && refreshed != gen0,
        "post-refresh trigger scores under the new servable generation")
    } finally q.stop()
  }

  test("streaming model refresh: micro-batches fold into the fit, replayed batchId is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val b = 4096
    val path = tempPath("dsir_supd")
    val full = path + "_full"
    val ckpt = tempPath("dsir_supd_ckpt")
    val base = corpus.toDF("doc_id", "text", "is_t")
    Dsir.fit(base, "doc_id", "text", col("is_t"), b, path)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Boolean)]
    val q = graft.streaming.StreamingDsir.runUpdate(
      mem.toDF().toDF("doc_id", "text", "is_t"), col("is_t"), path, checkpoint = ckpt)
    val b1 = Seq((20L, "alpha omega", false), (21L, "beta beta gamma", true))
    val b2 = Seq((30L, "delta psi epsilon", false))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // after the stream: the stored model is EXACTLY the from-scratch
    // fit on base ∪ every delivered batch (counts are additive)
    Dsir.fit(base.unionByName(b1.toDF("doc_id", "text", "is_t"))
      .unionByName(b2.toDF("doc_id", "text", "is_t")), "doc_id", "text", col("is_t"), b, full)
    def ratios(p: String) = Dsir.ratiosOf(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(ratios(path) == ratios(full))
    val m = Dsir.readMetaRow(spark, path)
    assert(m.getAs[Long]("generation") == 2L && m.getAs[String]("batch") == "epoch=1")

    // recovery replays only the LAST uncommitted batch — whose label
    // the servable generation carries, so the replay is a no-op
    Dsir.update(b2.toDF("doc_id", "text", "is_t"), "doc_id", "text", col("is_t"), path, "epoch=1")
    assert(Dsir.readMetaRow(spark, path).getAs[Long]("generation") == 2L)
    assert(ratios(path) == ratios(full))
  }
}
