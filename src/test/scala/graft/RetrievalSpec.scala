package graft

import org.apache.spark.sql.functions._
import graft.operators.{Packing, Retrieval}

/** BM25 retrieval + shard packing (round-3 operators). */
class RetrievalSpec extends SparkSpecBase {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("BM25 ranks a doc saturated with the query term above one that mentions it once") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "hash hash hash hash hash join"),
      (2L, "hash table scan filter merge sort window batch"),
      (3L, "scan scan scan scan scan scan scan scan scan scan")
    ).toDF("doc_id", "text")
    val out = Retrieval
      .bm25TopK(spark, corpus, "doc_id", "text", Seq("q" -> Seq("hash")), k = 3)
      .orderBy(col("rank"))
      .collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L)) // doc 3 has no 'hash' at all
    assert(out(0).getDouble(2) > out(1).getDouble(2))
  }

  test("BM25 scores every query, fills k slots, and is deterministic across runs") {
    val a = Retrieval.bm25TopK(spark, docs, "doc_id", "text", k = 10).collect()
    val b = Retrieval.bm25TopK(spark, docs, "doc_id", "text", k = 10).collect()
    assert(a.toSeq == b.toSeq)
    val perQuery = a.groupBy(_.getString(0)).map { case (_, rs) => rs.length }
    assert(perQuery.forall(_ == 10))
    // scores are positive and ranks are dense 1..k per query
    assert(a.forall(_.getDouble(2) > 0.0))
    a.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to 10).toSeq)
    }
  }

  test("BM25 over a persisted postings table equals the ad-hoc form row for row") {
    // the build-once index discipline: tokenPostings persisted to
    // parquet, then ranked from storage — no re-tokenize, same result
    val path = tempDir("bm25_postings") + "/postings"
    Retrieval.tokenPostings(docs, "doc_id", "text").write.parquet(path)
    val fromIndex = Retrieval.bm25TopKFromPostings(spark, spark.read.parquet(path))
      .orderBy("query_id", "rank").collect().toSeq
    val adHoc = Retrieval.bm25TopK(spark, docs, "doc_id", "text")
      .orderBy("query_id", "rank").collect().toSeq
    assert(fromIndex == adHoc)
  }

  // ---- persisted postings index lifecycle (build / admit / compact) ----

  private def hfs = org.apache.hadoop.fs.FileSystem
    .get(spark.sparkContext.hadoopConfiguration)

  private def served(path: String) = Retrieval
    .bm25TopKFromIndex(spark, path)
    .orderBy("query_id", "rank").collect().toSeq

  test("postings lifecycle: admit screens novelty; compaction crash window serves exactly, " +
      "including a crash half-way through the __base overwrite") {
    val path = tempDir("postings_lc")
    val base = docs.select("doc_id", "text").filter(col("doc_id") % 2 === 0)
    // 40 novel odd docs + 10 re-admissions of already-indexed base docs
    val shard = docs.select("doc_id", "text")
      .filter((col("doc_id") % 2 === 1 && col("doc_id") < 80) ||
        (col("doc_id") % 2 === 0 && col("doc_id") < 20))
    Retrieval.buildPostingsIndex(base, "doc_id", "text", path)
    val survivors = Retrieval.admitDocs(shard, path, "doc_id", "text", "s1")
    assert(survivors.count() == 40)
    assert(survivors.filter(col("doc_id") % 2 === 0).count() == 0, "re-admissions must be screened")

    // serving the index == the monolithic recompute over base ∪ survivors
    val corpus = base.unionByName(
      docs.select("doc_id", "text").filter(col("doc_id") % 2 === 1 && col("doc_id") < 80))
    val expect = Retrieval.bm25TopK(spark, corpus, "doc_id", "text")
      .orderBy("query_id", "rank").collect().toSeq
    assert(served(path) == expect)

    // crash AFTER the staged merge is durable, BEFORE the serve tree mutates
    intercept[RuntimeException] {
      Retrieval.compactPostingsIndexImpl(spark, path, () => {
        assert(served(path) == expect, "staged-but-unpromoted window must serve exactly")
        throw new RuntimeException("boom")
      })
    }
    // simulate the killed job having died HALF-WAY through step 2's
    // shard=__base overwrite: the dir lost its old data files with no
    // complete new copy — the base corpus exists only in the staged dir
    val basePost = new org.apache.hadoop.fs.Path(s"$path/postings/shard=__base")
    hfs.listStatus(basePost).foreach(st => hfs.delete(st.getPath, false))
    assert(served(path) == expect, "mid-overwrite crash must not drop the base corpus")

    // restart the maintenance job: replay folds the SAME snapshot
    Retrieval.compactPostingsIndex(spark, path)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$path/promoting")), "marker must clear")
    assert(served(path) == expect)
    // everything folded into __base; a fresh admission still screens
    val again = Retrieval.admitDocs(shard, path, "doc_id", "text", "s2")
    assert(again.count() == 0, "every shard doc is already indexed after compaction")
  }

  test("admitDocs into an empty base treats every doc as novel and replays convergently") {
    val path = tempDir("postings_eb")
    val empty = docs.select("doc_id", "text").filter(lit(false))
    Retrieval.buildPostingsIndex(empty, "doc_id", "text", path)
    val shard = docs.select("doc_id", "text").filter(col("doc_id") < 50)
    val n = shard.count()
    assert(Retrieval.admitDocs(shard, path, "doc_id", "text", "s1").count() == n)
    // replay of the same admission converges (no self-rejection)
    assert(Retrieval.admitDocs(shard, path, "doc_id", "text", "s1").count() == n)
    val expect = Retrieval.bm25TopK(spark, shard, "doc_id", "text")
      .orderBy("query_id", "rank").collect().toSeq
    assert(served(path) == expect)
  }

  test("admitDocs collapses duplicated input rows so tf and stats agree") {
    val path = tempDir("postings_dup")
    val base = docs.select("doc_id", "text").filter(col("doc_id") >= 100)
    Retrieval.buildPostingsIndex(base, "doc_id", "text", path)
    val fresh = docs.select("doc_id", "text").filter(col("doc_id") < 10)
    val tripled = fresh.unionByName(fresh).unionByName(fresh)
    val survivors = Retrieval.admitDocs(tripled, path, "doc_id", "text", "s1")
    assert(survivors.count() == fresh.count(), "one surviving row per doc id")
    // a duplicated admission must not inflate tf relative to n_docs:
    // serving equals the monolithic recompute over the UNIQUE docs
    val expect = Retrieval.bm25TopK(spark, base.unionByName(fresh), "doc_id", "text")
      .orderBy("query_id", "rank").collect().toSeq
    assert(served(path) == expect)
  }

  test("packShards matches the single-partition global window formulation exactly") {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"), size(graft.functions.F.tokens(col("text"))).cast("long").as("w"))
    val packed = Packing
      .packShards(d, "doc_id", "w", budget = 256L, orderCol = md5(col("doc_id").cast("string").cast("binary")))
      .select("doc_id", "cum", "shard_id")
    val naive = d
      .withColumn("ok", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("cum",
        sum(col("w")).over(Window.orderBy(col("ok"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("shard_id", expr("(cum - w) div 256L"))
      .select("doc_id", "cum", "shard_id")
    assert(packed.exceptAll(naive).isEmpty && naive.exceptAll(packed).isEmpty)
  }

  test("tfidf leg scores are the exact integer dot products of milli-nat idf weights") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "hash join hash"), // tf(hash)=2, tf(join)=1
      (2L, "hash scan"),
      (3L, "merge sort")
    ).toDF("doc_id", "text")
    val out = Retrieval
      .tfidfTopKFromPostings(
        spark, Retrieval.tokenPostings(corpus, "doc_id", "text"),
        Seq("q" -> Seq("hash", "join")), k = 3)
      .orderBy(col("rank")).collect()
    // N=3 tokenized docs; df(hash)=2, df(join)=1
    val idfHash = math.floor(math.log(4.0 / 3.0) * 1e3).toLong
    val idfJoin = math.floor(math.log(4.0 / 2.0) * 1e3).toLong
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq(
      1L -> (2 * idfHash * idfHash + 1 * idfJoin * idfJoin),
      2L -> (1 * idfHash * idfHash)))
  }

  test("hybrid RRF fuses both legs' ranks and keeps single-leg docs with one contribution") {
    import spark.implicits._
    // doc 1: high tf of a rare term -> top of tfidf; short doc -> also high bm25
    // doc 4: only matches 'scan' which doc 5 saturates
    val corpus = Seq(
      (1L, "vector vector vector data"),
      (2L, "vector data data batch merge"),
      (3L, "data batch merge sort window filter group"),
      (4L, "scan batch"),
      (5L, "scan scan scan scan scan scan")
    ).toDF("doc_id", "text")
    val qs = Seq("qv" -> Seq("vector", "data"))
    val fused = Retrieval.hybridTopK(spark, corpus, "doc_id", "text", qs, kPerLeg = 3, k = 5)
    val rows = fused.orderBy(col("rank")).collect()
    val leg1 = Retrieval
      .bm25TopKFromPostings(spark, Retrieval.tokenPostings(corpus, "doc_id", "text"), qs, 3)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    val leg2 = Retrieval
      .tfidfTopKFromPostings(spark, Retrieval.tokenPostings(corpus, "doc_id", "text"), qs, 3)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    rows.foreach { r =>
      val (doc, rrf) = (r.getLong(1), r.getDouble(4))
      val expected =
        leg1.get(doc).map(rk => 1.0 / (60.0 + rk)).getOrElse(0.0) +
          leg2.get(doc).map(rk => 1.0 / (60.0 + rk)).getOrElse(0.0)
      assert(rrf == expected, s"doc $doc")
      assert(!r.isNullAt(2) || !r.isNullAt(3)) // at least one leg surfaced it
    }
    // rrf is non-increasing in rank
    val rrfs = rows.map(_.getDouble(4)).toSeq
    assert(rrfs.zip(rrfs.drop(1)).forall { case (a, b) => a >= b })
  }

  test("chunk->pack composition covers every chunk token exactly once, budget-bounded") {
    import spark.implicits._
    val corpus = Seq(
      (1L, ("tok " * 100).trim), // 100 tokens -> chunks of 64/48: 3 chunks
      (2L, "a b c"),             // sub-chunk doc -> one 3-token chunk
      (3L, "")                   // zero tokens -> nothing to pack
    ).toDF("doc_id", "text")
    val chunks = graft.operators.TextAnalysis
      .chunkDocs(corpus, "doc_id", "text", chunk = 64, stride = 48)
      .filter(col("chunk_idx").isNotNull)
      .select(concat_ws(":", col("doc_id"), col("chunk_idx")).as("chunk_id"), col("n_tokens"))
    val packed = Packing.packShards(chunks, "chunk_id", "n_tokens", budget = 128L,
      orderCol = md5(col("chunk_id").cast("binary")))
    val rows = packed.collect()
    // every chunk packed exactly once; zero-token doc contributes none
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("1:0", "1:1", "1:2", "2:0"))
    // total cum = total chunk tokens (starts 0/48/96 -> 64 + 52 + 4 tail, + 3)
    assert(rows.map(_.getAs[Long]("cum")).max == 64L + 52L + 4L + 3L)
    // every chunk STARTS inside its shard's budget window
    assert(rows.forall { r =>
      val off = r.getAs[Long]("shard_offset"); off >= 0L && off < 128L
    })
  }

  test("packShards shard sizes respect the budget for docs smaller than it") {
    val d = docs.select(col("doc_id"), size(graft.functions.F.tokens(col("text"))).cast("long").as("w"))
    // numeric pack order: bucketize via a zero-padded prefix (monotone for non-negative longs)
    val packed = Packing.packShards(d, "doc_id", "w", budget = 512L,
      orderCol = format_string("%020d", col("doc_id")),
      bucketOf = c => substring(c, 1, 18))
    // every doc starts inside its shard's budget window
    assert(packed.filter(col("shard_offset") >= 512L || col("shard_offset") < 0L).isEmpty)
    // cum is strictly increasing in pack order => shard ids are monotone
    val shards = packed.orderBy(col("cum")).select("shard_id").collect().map(_.getLong(0))
    assert(shards.sameElements(shards.sorted))
  }
}
