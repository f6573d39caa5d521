package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Multimodal}

class OperatorSpec extends SparkSpecBase {
  import spark.implicits._

  test("IVF top-k recalls most of the brute-force neighbors") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Ann
      .bruteForceTopK(emb, queries, 5)
      .select("query_id", "item_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    def recallAt(iters: Int): Double = {
      val ivf = Ann
        .ivfTopK(spark, emb, queries, 5, numCells = 16, probes = 8, lloydIters = iters)
        .select("query_id", "item_id")
        .as[(Long, Long)]
        .collect()
        .toSet
      (brute intersect ivf).size.toDouble / brute.size
    }
    val r1 = recallAt(1)
    val r5 = recallAt(5)
    info(f"IVF recall@5 (16 cells, 8 probes): $r1%.3f at 1 Lloyd iter, $r5%.3f at budget 5")
    assert(r5 >= 0.6, s"IVF recall too low at full budget: $r5")
    assert(r5 >= r1 - 0.1, s"more Lloyd budget must not collapse recall: $r1 -> $r5")
  }

  test("PQ: exhaustive re-rank equals brute force; limited re-rank recalls most neighbors") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val cb = Ann.pqTrain(spark, emb, m = 16, codebookSize = 16)
    // codes well-formed: one code per subspace, each inside its codebook
    val codes = Ann.pqEncodeCorpus(emb, cb).collect()
    assert(codes.forall { r =>
      val cs = r.getSeq[Int](1); cs.length == 16 && cs.forall(c => c >= 0 && c < 16)
    })
    val brute = Ann.bruteForceTopK(emb, queries, 5)
      .select("query_id", "item_id", "cos", "rank").collect().toSeq
    val exhaustive = Ann.pqTopK(emb, queries, cb, 5, rerank = Int.MaxValue)
      .orderBy("query_id", "rank")
      .select("query_id", "item_id", "cos", "rank").collect().toSeq
    assert(exhaustive == brute.sortBy(r => (r.getLong(0), r.getInt(3))),
      "unlimited re-rank pool must reproduce brute force exactly")
    val limited = Ann.pqTopK(emb, queries, cb, 5, rerank = 20)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bruteSet intersect limited).size.toDouble / bruteSet.size
    // near-uniform synthetic vectors are PQ's hard case (no cluster
    // structure to exploit); the PQ recall matrix in SURVEY.md §5 records how
    // recall climbs with m/K/rerank (0.40 at m=8 -> 0.925 at m=16/K=32/
    // rerank=40). The gate's (m=16, K=16, rerank=4k) sits at ~0.7.
    info(f"PQ recall@5 (m=16, K=16, rerank=20): $recall%.3f")
    assert(recall >= 0.6, s"ADC candidate generation recall too low: $recall")
    // determinism: re-training produces identical codebooks
    val cb2 = Ann.pqTrain(spark, emb, m = 16, codebookSize = 16)
    assert(java.util.Arrays.deepEquals(
      cb.asInstanceOf[Array[AnyRef]], cb2.asInstanceOf[Array[AnyRef]]))
  }

  test("persisted IVF index: search equals the in-memory path and reads only probed cells") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 4)
    val path = tempDir("graft_ivf_index_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.buildIvfIndex(spark, emb, path, numCells = 16, lloydIters = 5)

    val fromIndex = Ann.searchIvfIndex(spark, path, queries, k = 5, probes = 4)
    val cents = Ann.loadIvfCentroids(spark, path)
    val direct = Ann.ivfSearch(emb, queries, cents, k = 5, probes = 4)
    assert(fromIndex.orderBy("query_id", "rank").collect().toSeq ==
      direct.orderBy("query_id", "rank").collect().toSeq,
      "stored-index search must equal the in-memory assignment path")

    // partition pruning: the scan lists files only under the probed cells
    val probed = queries
      .withColumn("cell", explode(call_function("graft_nearest_centroids",
        col("embedding"), typedlit[Seq[Seq[Float]]](cents.map(_.toSeq).toSeq), lit(4))))
      .select("cell").distinct().as[Int].collect().toSet
    val scanned = fromIndex.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("assignments")) =>
        // keep only the static partition filters: Spark layers a dynamic-
        // pruning subquery on top (unevaluable outside execution), and the
        // static isin list is exactly what this test asserts
        val static = s.partitionFilters.filterNot(
          _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery]))
        s.relation.location.listFiles(static, s.dataFilters)
          .flatMap(_.files.map(_.fileStatus.getPath.toString))
    }.flatten
    assert(scanned.nonEmpty)
    val cellsRead = scanned.flatMap(f => "cell=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(cellsRead.subsetOf(probed), s"scan read cells $cellsRead beyond the probed $probed")
  }

  test("IVF admission: appended vectors are searchable; replay converges; promotion folds") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val day1 = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 4)
    val path = tempDir("graft_ivf_admit_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.buildIvfIndex(spark, base, path, numCells = 16, lloydIters = 5)

    // exhaustive search over base+delta == brute force over the FULL corpus
    Ann.appendToIvfIndex(day1, path, "day1")
    val brute = Ann.bruteForceTopK(emb, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    def exhaustive() = Ann.searchIvfIndex(spark, path, queries, k = 5, probes = 16)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive() == brute,
      "admitted vectors must rank exactly as if the index were built over base+delta")

    // replay converges: re-appending the same shard must not double-carry
    Ann.appendToIvfIndex(day1, path, "day1")
    val deltaRows = spark.read.parquet(s"$path/assignments_delta")
    assert(deltaRows.count() == day1.count(), "replayed shard must overwrite, not append")
    assert(exhaustive() == brute)

    // drift contract: a batch redrawn from the training distribution
    // sits at ~p95's tail mass (< threshold); the odd-id batch is
    // genuinely distribution-shifted in this testdata (measured 0.648
    // vs 0.048 for a base redraw) — admitVectors flags the rebuild AND
    // still appends (drift gates the REBUILD decision, never the append)
    assert(Ann.ivfDriftFraction(spark, path, base) < 0.5,
      "a redraw of the training data must not trip the drift threshold")
    assert(Ann.admitVectors(day1, path, "day1", driftFraction = 0.5),
      "the distribution-shifted batch must trip the drift threshold")
    assert(spark.read.parquet(s"$path/assignments_delta").count() == day1.count(),
      "a drifted batch must still be appended (searchable pending rebuild)")

    // promotion folds the delta into base; search identical; delta gone
    Ann.promoteIvfDelta(spark, path)
    assert(Ann.readableVecShardDirs(spark, path).isEmpty, "promotion must clear folded shards")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/promoting")))
    assert(spark.read.parquet(s"$path/assignments").count() == emb.count())
    assert(exhaustive() == brute, "post-promotion search must be unchanged")
    // promoting an empty delta is a no-op
    Ann.promoteIvfDelta(spark, path)
    assert(exhaustive() == brute)
  }

  test("IVF promotion: crash windows converge; concurrent admission survives") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 3 === 0)
    val day1 = emb.filter(col("vec_id") % 3 === 1)
    val day2 = emb.filter(col("vec_id") % 3 === 2)
    val queries = emb.filter(col("vec_id") < 4)
    val path = tempDir("graft_ivf_promote_crash_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.buildIvfIndex(spark, base, path, numCells = 16, lloydIters = 5)
    Ann.appendToIvfIndex(day1, path, "day1")

    // crash AFTER the stage is complete, with a concurrent admission in
    // the window: the resume must fold ONLY the snapshot (day1) and the
    // mid-promotion shard (day2) must survive for the next cycle
    val boom = new RuntimeException("simulated crash after stage")
    intercept[RuntimeException] {
      Ann.promoteIvfDeltaImpl(spark, path, () => {
        Ann.appendToIvfIndex(day2, path, "day2")
        throw boom
      })
    }
    // the crash window left base+delta overlapping-free here (base not
    // yet rewritten) — search is exact throughout
    val brute = Ann.bruteForceTopK(emb, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    def exhaustive() = Ann.searchIvfIndex(spark, path, queries, k = 5, probes = 16)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive() == brute, "search must stay exact in the crashed-promotion state")

    Ann.promoteIvfDelta(spark, path) // resume: folds day1 only
    assert(Ann.readableVecShardDirs(spark, path).map(_.getName).toSet == Set("shard=day2"),
      "mid-promotion admission must survive the resumed cleanup")
    assert(exhaustive() == brute)

    // the double-carry window: base rewritten but folded dirs not yet
    // deleted. In that state the staged `promoting` dir still exists
    // (it is deleted LAST) — simulate it: re-plant day2's rows as a
    // delta shard whose items are ALREADY in base, plus the marker.
    Ann.promoteIvfDelta(spark, path) // folds day2 into base
    Ann.appendToIvfIndex(day2, path, "day2_dup") // day2 items now in base AND delta
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/promoting"))
    assert(exhaustive() == brute,
      "identity collapse must keep search exact inside the crash window (marker present)")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/promoting"), true)
    // outside the window the collapse is NOT paid — a re-used shard
    // name would double-rank, which is why shard-name uniqueness is
    // the documented admission contract; the lifecycle heals by
    // promotion (its own dropDuplicates folds the overlap away)
    Ann.promoteIvfDelta(spark, path)
    assert(exhaustive() == brute, "promotion collapses a double-carried overlap for good")
  }

  test("PROMOTE VECTOR INDEX DELTA after a crashed stage reports only the shards it folds") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val path = tempDir("ivf_promote_sql_count")
    Ann.buildIvfIndex(spark, emb.filter(col("vec_id") % 3 === 0), path, numCells = 16, lloydIters = 5)
    Ann.appendToIvfIndex(emb.filter(col("vec_id") % 3 === 1), path, "day1")
    intercept[RuntimeException] {
      Ann.promoteIvfDeltaImpl(spark, path, () => throw new RuntimeException("boom"))
    }
    // admitted after the crash: committed, but not in the persisted fold list
    Ann.appendToIvfIndex(emb.filter(col("vec_id") % 3 === 2), path, "day2")
    val row = new graft.sql.GraftSqlParser(spark, spark.sessionState.sqlParser)
      .parsePlan(s"PROMOTE VECTOR INDEX DELTA '$path'")
      .asInstanceOf[org.apache.spark.sql.execution.command.RunnableCommand].run(spark).head
    assert(row.getLong(1) == 1L, s"the restart folds day1 only: $row")
    assert(Ann.readableVecShardDirs(spark, path).map(_.getName).toSeq == Seq("shard=day2"))
  }

  test("IVF admission edges: empty batch, uncommitted shard files, rebuild wipes stale delta") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val day1 = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 4)
    val path = tempDir("graft_ivf_admit_edge_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.buildIvfIndex(spark, base, path, numCells = 16, lloydIters = 5)

    // an admitted EMPTY batch (no new vectors that day) commits a
    // data-less shard dir: search, inventory, and promotion must all
    // treat the index as delta-less rather than crash schema inference
    Ann.appendToIvfIndex(emb.filter(col("vec_id") < 0), path, "empty_day")
    assert(Ann.readableVecShardDirs(spark, path).isEmpty,
      "a data-less shard is not a readable shard")
    val baseBrute = Ann.bruteForceTopK(base, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    def exhaustive() = Ann.searchIvfIndex(spark, path, queries, k = 5, probes = 16)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive() == baseBrute, "search must serve the base through an empty delta")
    Ann.promoteIvfDelta(spark, path) // no-op, must not crash

    // a crashed append (partial data files, NO _SUCCESS) must never be
    // served: plant a data file in an uncommitted shard dir
    Ann.appendToIvfIndex(day1, path, "day1")
    val committed = new org.apache.hadoop.fs.Path(s"$path/assignments_delta/shard=day1")
    val crashed = new org.apache.hadoop.fs.Path(s"$path/assignments_delta/shard=crashed")
    val cellDir = fs.listStatus(committed).map(_.getPath)
      .find(_.getName.startsWith("cell=")).get
    val dataFile = fs.listStatus(cellDir).map(_.getPath)
      .find(p => !p.getName.startsWith("_") && !p.getName.startsWith(".")).get
    fs.mkdirs(new org.apache.hadoop.fs.Path(crashed, cellDir.getName))
    org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(crashed, cellDir.getName), dataFile.getName),
      false, spark.sparkContext.hadoopConfiguration)
    val brute = Ann.bruteForceTopK(emb, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive() == brute,
      "an uncommitted shard's partial files must be invisible to search")

    // a REBUILD (the drift-tripped path) wipes stale delta shards whose
    // cells the old quantizer assigned — they must not survive to be
    // served under the new centroids or folded by a later promotion
    Ann.buildIvfIndex(spark, emb, path, numCells = 16, lloydIters = 5)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/assignments_delta")),
      "rebuild must clear the delta tree")
    assert(exhaustive() == brute, "the rebuilt index serves the full corpus, no stale delta")
  }

  test("PQ-index admission: codes delta searchable, family-dispatched promotion folds codes") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val day1 = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 4)
    val path = tempDir("graft_pq_admit_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.buildIvfPqIndex(spark, base, path, numCells = 16, m = 16, codebookSize = 16)

    // family dispatch: the append lands CODES under codes_delta
    Ann.appendToIvfIndex(day1, path, "day1")
    assert(Ann.vecDirs(spark, path) == (("codes", "codes_delta")))
    val shardRows = spark.read.parquet(s"$path/codes_delta/shard=day1")
    assert(shardRows.count() == day1.count())
    assert(shardRows.columns.toSet == Set("item_id", "codes", "cell"),
      "the PQ delta must hold encoded codes, not raw vectors")

    // exhaustive probes + unlimited re-rank over base ∪ delta == brute
    // force over the FULL corpus (exact re-rank re-scores everything)
    val brute = Ann.bruteForceTopK(emb, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    def exhaustive() = Ann.searchIvfPqIndex(spark, path, emb, queries, k = 5,
      probes = 16, rerank = Int.MaxValue)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive() == brute,
      "admitted codes must rank exactly as an index built over base+delta")

    // promotion folds the codes delta into the codes base
    Ann.promoteIvfDelta(spark, path)
    assert(Ann.readableVecShardDirs(spark, path).isEmpty)
    assert(spark.read.parquet(s"$path/codes").count() == emb.count())
    assert(exhaustive() == brute, "post-promotion PQ search must be unchanged")
  }

  test("persisted IVF-PQ index: codes-only scan prunes to probed cells; exhaustive equals brute") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 4)
    val path = tempDir("graft_ivfpq_index_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.buildIvfPqIndex(spark, emb, path, numCells = 16, m = 16, codebookSize = 16)

    // exhaustive probing + unlimited re-rank pool == brute force
    val exhaustive = Ann.searchIvfPqIndex(spark, path, emb, queries, k = 5,
      probes = 16, rerank = Int.MaxValue)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Ann.bruteForceTopK(emb, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive == brute,
      "exhaustive persisted IVF-PQ search must reproduce brute force exactly")

    // codebooks round-trip the persisted layout
    val cb = Ann.loadPqCodebooks(spark, path)
    assert(cb.length == 16 && cb.forall(_.length == 16))

    // probe-limited run: the codes scan lists files only under probed
    // cells, and the scan carries NO raw vector column (codes + id only)
    val limited = Ann.searchIvfPqIndex(spark, path, emb, queries, k = 5, probes = 4, rerank = 20)
    val cents = Ann.loadIvfCentroids(spark, path)
    val probed = queries
      .withColumn("cell", explode(call_function("graft_nearest_centroids",
        col("embedding"), typedlit[Seq[Seq[Float]]](cents.map(_.toSeq).toSeq), lit(4))))
      .select("cell").distinct().as[Int].collect().toSet
    val codeScans = limited.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq_index_spec")) => s
    }
    assert(codeScans.nonEmpty)
    codeScans.foreach { s =>
      assert(!s.schema.fieldNames.contains("item_vec") && !s.schema.fieldNames.contains("embedding"),
        s"index scan must read codes, not raw vectors: ${s.schema.fieldNames.toSeq}")
    }
    val scanned = codeScans.flatMap { s =>
      val static = s.partitionFilters.filterNot(
        _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery]))
      s.relation.location.listFiles(static, s.dataFilters)
        .flatMap(_.files.map(_.fileStatus.getPath.toString))
    }
    val cellsRead = scanned.flatMap(f => "cell=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(cellsRead.subsetOf(probed), s"scan read cells $cellsRead beyond the probed $probed")

    // scoring is keyed on each query's OWN probed cells (a broadcast
    // hash join on the cell key), never a nested-loop cross join of
    // every query against the union of everyone's cells
    val limitedPlan = limited.queryExecution.executedPlan.toString
    assert(!limitedPlan.contains("BroadcastNestedLoopJoin") && !limitedPlan.contains("CartesianProduct"),
      s"probe-limited scoring must join per query on the cell key:\n$limitedPlan")
  }

  test("PQ edge cases: ragged corpus trains zero-padded; NaN ADC ranks last, never vanishes") {
    // a short vector among full-width ones must train (zero-pad), not crash
    val ragged = Seq(
      (1L, Seq.fill(64)(0.5f)), (2L, Seq.fill(32)(1.0f)), (3L, Seq.fill(64)(-0.25f))
    ).toDF("vec_id", "embedding")
    val cbR = Ann.pqTrain(spark, ragged, m = 16, codebookSize = 4)
    assert(cbR.length == 16 && cbR.forall(_.length == 4))

    // tiny-but-nonzero vector: its reconstruction can be all zero
    // codewords (NaN ADC) — with an unlimited pool the exact re-rank
    // must still see it, so exhaustive PQ equals brute force exactly
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
      .filter(col("vec_id") < 50)
      .unionByName(Seq((9999L, Seq.fill(64)(1e-8f))).toDF("vec_id", "embedding"))
    val queries = emb.filter(col("vec_id") < 4)
    val cb = Ann.pqTrain(spark, emb, m = 16, codebookSize = 16)
    val exhaustive = Ann.pqTopK(emb, queries, cb, 5, rerank = Int.MaxValue)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Ann.bruteForceTopK(emb, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive == brute,
      "exhaustive PQ must equal brute force even with zero-reconstruction items in the corpus")
  }

  test("funnel chains steps strictly in time and never matches out of order") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1767225600000L + m * 60000L)
    val ev = Seq(
      // user 1: clean full funnel
      (1L, ts(0), 1L, "view"), (2L, ts(1), 1L, "click"), (3L, ts(2), 1L, "purchase"),
      // user 2: click BEFORE any view never chains; the later click does
      (4L, ts(0), 2L, "click"), (5L, ts(1), 2L, "view"), (6L, ts(2), 2L, "click"),
      // user 3: purchase before the qualified click -> funnel stops at 2
      (7L, ts(0), 3L, "view"), (8L, ts(1), 3L, "purchase"), (9L, ts(2), 3L, "click"),
      // user 4: no view at all -> 0 steps despite click + purchase
      (10L, ts(0), 4L, "click"), (11L, ts(1), 4L, "purchase"),
      // user 5: same-ts view+click do NOT chain (strict >)
      (12L, ts(0), 5L, "view"), (13L, ts(0), 5L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.Funnel
      .funnel(ev, "user_id", "ts", "event_type", "event_id", Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((Option(r.getAs[Timestamp]("ts_step2")), r.getAs[Int]("steps_completed"))))
      .toMap
    assert(out(1L)._2 == 3)
    assert(out(2L) == ((Some(ts(2)), 2)), "only the click AFTER the view chains")
    assert(out(3L)._2 == 2, "a purchase before the qualified click must not count")
    assert(out(4L)._2 == 0, "no view means zero steps regardless of later events")
    assert(out(5L)._2 == 1, "same-timestamp events do not chain (strict ordering)")
    // one exchange serves the cascaded windows and the rollup
    val nExchanges = "Exchange".r.findAllIn(
      graft.operators.Funnel
        .funnel(ev, "user_id", "ts", "event_type", "event_id", Seq("view", "click", "purchase"))
        .queryExecution.executedPlan.toString
        .replace("BroadcastExchange", "")).length
    assert(nExchanges <= 1, s"funnel must reuse one user-key exchange, saw $nExchanges")
  }

  test("topPaths counts consecutive n-grams per user, never crossing users") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1767225600000L + m * 60000L)
    val ev = Seq(
      // user 1 walks view > click > purchase twice (overlapping windows)
      (1L, ts(0), 1L, "view"), (2L, ts(1), 1L, "click"), (3L, ts(2), 1L, "purchase"),
      (4L, ts(3), 1L, "view"), (5L, ts(4), 1L, "click"), (6L, ts(5), 1L, "purchase"),
      // user 2 walks it once; their trailing pair must NOT join user 1's events
      (7L, ts(0), 2L, "view"), (8L, ts(1), 2L, "click"), (9L, ts(2), 2L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.Funnel
      .topPaths(ev, "user_id", "ts", "event_type", "event_id", n = 3, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.head == (("view > click > purchase", 3L, 2L)), s"got ${out.toSeq}")
    // user 1's 6 events yield 4 trigrams, user 2's 3 yield 1 — never 7
    assert(out.map(_._2).sum == 5L, s"cross-user n-grams leaked: ${out.toSeq}")

    // a null event type invalidates every n-gram through it — a
    // null HEAD must not collapse into a shorter path (concat_ws
    // would silently drop it and collide with genuine 2-step paths)
    val withNull = Seq(
      (1L, ts(0), 1L, null.asInstanceOf[String]),
      (2L, ts(1), 1L, "click"), (3L, ts(2), 1L, "purchase"), (4L, ts(3), 1L, "refund")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val nOut = graft.operators.Funnel
      .topPaths(withNull, "user_id", "ts", "event_type", "event_id", n = 3, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(nOut.toSeq == Seq(("click > purchase > refund", 1L)),
      s"null-headed n-grams must be excluded, not shortened: ${nOut.toSeq}")
  }

  test("anomalies z-scores against the trailing window only; flat baselines flag any deviation") {
    // series A: 8 flat days then a spike; series B: varying baseline
    // with a mild day that must NOT flag
    val rows =
      (1 to 8).map(d => ("a", d, 10L)) ++ Seq(("a", 9, 25L)) ++
        Seq(("b", 1, 10L), ("b", 2, 14L), ("b", 3, 6L), ("b", 4, 11L))
    val counts = rows.toDF("series", "period", "cnt")
    val out = graft.operators.Funnel
      .anomalies(counts, "series", "period", "cnt", lookback = 7, zThreshold = 3.0)
      .collect()
      .map(r => (r.getString(1), r.getInt(0)) -> ((r.getAs[Boolean]("is_anomaly"), Option(r.get(4)))))
      .toMap
    // periods 1-2 of each series have < 2 prior rows: no baseline, no row
    assert(!out.contains(("a", 1)) && !out.contains(("a", 2)) && !out.contains(("b", 2)))
    // flat baseline: std = 0 -> z undefined (null) but any deviation flags
    assert(out(("a", 3)) == ((false, None)), "flat continuation must not flag")
    assert(out(("a", 9))._1 && out(("a", 9))._2.isEmpty,
      "a spike off a flat baseline flags with NULL z")
    // varying baseline: day 4 (11 vs mean 10 of {10,14,6}) is unremarkable
    assert(out(("b", 4)) == ((false, Some(0.25))), s"got ${out(("b", 4))}")
    // the CURRENT period never contaminates its own baseline: series a
    // day 9's baseline is the 7 flat prior days, mean exactly 10
    val a9 = graft.operators.Funnel
      .anomalies(counts, "series", "period", "cnt", lookback = 7)
      .filter(col("series") === "a" && col("period") === 9)
      .head()
    assert(a9.getDouble(3) == 10.0)
    intercept[IllegalArgumentException](
      graft.operators.Funnel.anomalies(counts, "series", "period", "cnt", lookback = 1))
  }

  test("densifyDaily zero-fills gaps: outage days score and the baseline window cannot stretch") {
    import java.sql.Timestamp
    def d(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    // days 1-9 at 10/day, day 5 ABSENT (the canonical outage: without
    // densify it is never scored; with it, it is a zero-count row)
    val counts = (1 to 9).filter(_ != 5).map(x => ("a", d(x), 10L))
      .toDF("series", "day", "cnt")
    val dense = graft.operators.Funnel.densifyDaily(counts, "series", "day", "cnt")
    assert(dense.count() == 9, "every calendar day in the span gets a row")
    assert(dense.filter(col("day") === d(5)).head().getAs[Long]("cnt") == 0L)
    val out = graft.operators.Funnel
      .anomalies(dense, "series", "day", "cnt", lookback = 7, zThreshold = 3.0)
      .collect().map(r => r.getTimestamp(0) -> r.getAs[Boolean]("is_anomaly")).toMap
    assert(out(d(5)), "a zero-event outage day must flag against the flat baseline")
    assert(!out(d(6)), "recovery back to baseline must not flag (the 0 widens the std)")
    assert(!out(d(9)), "steady days must not flag")
  }

  test("retention cohorts by first anchor and counts activity per period once") {
    import java.sql.Timestamp
    val day = 24 * 3600 * 1000L
    def ts(d: Int) = new Timestamp(1767225600000L + d * day) // 2026-01-01 (Thursday) + d days
    val ev = Seq(
      // users 1,2 sign up day 0; user 3 has no signup (never cohorted)
      (1L, ts(0), 1L, "signup"), (2L, ts(0), 2L, "signup"), (3L, ts(0), 3L, "view"),
      // week 0 activity: both users (multiple events count once)
      (4L, ts(1), 1L, "view"), (5L, ts(2), 1L, "click"), (6L, ts(3), 2L, "view"),
      // week 1 activity: only user 1
      (7L, ts(8), 1L, "purchase"),
      // pre-signup activity never counts: user 2's second signup is day 0 anchor
      (8L, ts(20), 2L, "signup")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.Funnel.retention(ev, "user_id", "ts", "event_type")
      .collect()
      .map(r => r.getAs[Int]("period_n") -> ((r.getAs[Long]("n_cohort"), r.getAs[Long]("n_active"), r.getAs[Double]("retention"))))
      .toMap
    assert(out(0) == ((2L, 2L, 1.0)), s"week 0: both cohort members active, got $out")
    assert(out(1) == ((2L, 1L, 0.5)), "week 1: one of two retained")
    assert(out(2) == ((2L, 1L, 0.5)), "user 2's day-20 event lands in week 2 of the day-0 anchor")
    assert(out.size == 3, s"user 3 (no anchor) must not create cells: $out")
    // an events frame carrying its own `cohort` column must not make
    // the operator's internal references ambiguous
    val decorated = ev.withColumn("cohort", lit("whatever")).withColumn("__t0", lit(0L))
    val out2 = graft.operators.Funnel.retention(decorated, "user_id", "ts", "event_type")
      .collect().map(r => r.getAs[Int]("period_n") -> r.getAs[Long]("n_active")).toMap
    assert(out2 == out.map { case (k, v) => k -> v._2 })
    // daily retention: aligned cohortTrunc/periodSeconds parameters
    val daily = graft.operators.Funnel
      .retention(ev, "user_id", "ts", "event_type", periodSeconds = 86400L, cohortTrunc = "day")
      .collect().map(r => r.getAs[Int]("period_n") -> r.getAs[Long]("n_active")).toMap
    assert(daily(1) == 1L && daily(8) == 1L, s"daily periods: $daily")
  }

  test("persisted IVF index: drift probe stays low in-distribution, triggers re-train when shifted") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val path = tempDir("graft_ivf_drift_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.buildIvfIndex(spark, emb, path, numCells = 16, lloydIters = 5)

    // same-distribution "new data": the corpus itself — by construction
    // ~5% sits beyond its own p95 quantization error
    val selfDrift = Ann.ivfDriftFraction(spark, path, emb)
    assert(selfDrift <= 0.10, s"in-distribution drift fraction should be ~0.05, got $selfDrift")
    assert(!Ann.refreshIvfIndexIfDrifted(spark, emb, emb, path),
      "in-distribution data must not trigger a re-train")

    // a shifted batch: every vector offset far beyond the train-time
    // dispersion → drift fraction ~1 → re-train fires
    val shifted = emb.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(50.0f)).as("embedding"))
    val farDrift = Ann.ivfDriftFraction(spark, path, shifted)
    assert(farDrift >= 0.9, s"shifted batch should drift ~1.0, got $farDrift")
    val oldCents = Ann.loadIvfCentroids(spark, path)
    val combined = emb.select(col("vec_id"), col("embedding"))
      .unionByName(shifted.withColumn("vec_id", col("vec_id") + 100000L))
    assert(Ann.refreshIvfIndexIfDrifted(spark, combined, shifted, path),
      "drifted batch must trigger the re-train")
    val newCents = Ann.loadIvfCentroids(spark, path)
    assert(!java.util.Arrays.deepEquals(
      oldCents.asInstanceOf[Array[AnyRef]], newCents.asInstanceOf[Array[AnyRef]]),
      "re-train must re-quantize")
    // the rebuilt index describes the combined corpus: the batch that
    // was catastrophically drifted now quantizes in-distribution
    val after = Ann.ivfDriftFraction(spark, path, shifted)
    assert(after <= 0.2, s"post-re-train drift of the new region should be low, got $after")
  }

  test("a rebuild in the other index family leaves no file of the old family") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val path = tempPath("graft_ivf_family_switch_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def left(dirs: String*) = dirs.filter(d => fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d")))

    Ann.buildIvfPqIndex(spark, emb, path, numCells = 16, m = 16, codebookSize = 16)
    Ann.buildIvfIndex(spark, emb, path, numCells = 16)
    assert(left("codebooks", "codes", "meta").isEmpty, "a plain rebuild must remove every IVF-PQ file")
    assert(Ann.vecDirs(spark, path) == (("assignments", "assignments_delta")))
    // streaming admission accepts the plain index: the batch lands as a
    // raw-vector shard
    val batch = emb.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000L)
    graft.streaming.StreamingVectorAdmit.admitBatch(batch, path, 0L)
    assert(Ann.readableVecShardDirs(spark, path).map(_.getName).toSeq == Seq("shard=stream_0"))
    assert(spark.read.parquet(s"$path/assignments_delta/shard=stream_0").count() == 20L)

    Ann.buildIvfPqIndex(spark, emb, path, numCells = 16, m = 16, codebookSize = 16)
    assert(left("assignments", "assignments_delta").isEmpty, "an IVF-PQ rebuild must remove every plain file")
    assert(Ann.vecDirs(spark, path) == (("codes", "codes_delta")))
  }

  test("a drifted IVF-PQ index re-trains as IVF-PQ: its codes carry the new quantizer's cells") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val path = tempPath("graft_ivfpq_drift_spec")
    Ann.buildIvfPqIndex(spark, emb, path, numCells = 16, m = 16, codebookSize = 8)
    // the shifted batch of the plain drift spec above
    val shifted = emb.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(50.0f)).as("embedding"))
    val combined = emb.select(col("vec_id"), col("embedding"))
      .unionByName(shifted.withColumn("vec_id", col("vec_id") + 100000L))
    assert(Ann.refreshIvfIndexIfDrifted(spark, combined, shifted, path),
      "drifted batch must trigger the re-train")
    assert(Ann.vecDirs(spark, path) == (("codes", "codes_delta")), "the rebuild keeps the PQ family")
    val cb = Ann.loadPqCodebooks(spark, path)
    assert(cb.length == 16 && cb.forall(_.length == 8), "m and the codebook size come from the stored codebooks")
    val cents = Ann.loadIvfCentroids(spark, path)
    val nearest = combined.select(col("vec_id").as("item_id"),
      Ann.nearestCentroid(col("embedding"), Ann.bcastTable(spark, cents)).as("nearest"))
    val codes = spark.read.parquet(s"$path/codes").select(col("item_id"), col("cell"))
    assert(codes.count() == combined.count(), "the codes cover the rebuilt corpus")
    assert(codes.join(nearest, "item_id").filter(col("cell") =!= col("nearest")).count() == 0L,
      "every code row's cell is its vector's nearest cell under the new centroids")
  }

  test("the plain IVF build runs its pinned labeled jobs") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val path = tempPath("graft_ivf_build_jobs_spec")
    val c = new JobCounter(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    val (_, labels) =
      try c.jobsAndLabels(Ann.buildIvfIndex(spark, emb, path, numCells = 16))
      finally spark.sparkContext.removeSparkListener(c)
    val perLabel = labels.groupBy(identity).map { case (l, n) => l -> n.size }
    info(s"plain IVF build jobs per label: $perLabel")
    // the training sample, the centroids write, the assignment write, the
    // id Bloom (one tree aggregation) and the stats; the IVF-PQ steps of
    // the shared build add none
    assert(perLabel == Map("ann:build:train" -> 3, "ann:build:centroids" -> 1,
      "ann:build:assign" -> 2, "ann:bloom:agg" -> 1, "ann:build:stats" -> 2))
  }

  test("IVF output is deterministic across runs (exact-decimal centroids)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 4)
    def run() = Ann.ivfTopK(spark, emb, q, 3).select("query_id", "item_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq.sorted
    assert(run() == run())
  }

  test("native Misra-Gries aggregate: bounded state, frequent items guaranteed, SQL-callable") {
    val words = (Seq.fill(60)("hot") ++ Seq.fill(25)("warm") ++ (1 to 15).map(i => s"rare$i")).toDF("w")
      .repartition(4) // exercise partial buffers + binary serialize/merge
    val r = words.agg(call_function("graft_heavy_hitters", col("w"), lit(5)).as("hh"))
      .select(explode(col("hh")).as("e")).select("e.token", "e.count")
      .as[(String, Long)].collect()
    assert(r.length <= 5)
    val kept = r.map(_._1).toSet
    assert(kept.contains("hot") && kept.contains("warm")) // freq > n/k = 20 guaranteed
    words.createOrReplaceTempView("hh_words")
    val viaSql = spark.sql(
      "SELECT graft_heavy_hitters(w, 5) FROM hh_words").head().getSeq[Any](0)
    assert(viaSql.nonEmpty)
  }

  test("Misra-Gries heavy hitters: guaranteed frequent items survive with small k") {
    val words = Seq.fill(60)("hot") ++ Seq.fill(25)("warm") ++ (1 to 15).map(i => s"rare$i")
    val ds = words.toDS()
    val hh = new graft.functions.Aggregators.HeavyHitters(5).toColumn
    val result = ds.select(hh).head()
    // items with freq > n/k = 100/5 = 20 are guaranteed present
    val kept = result.map(_._1).toSet
    assert(kept.contains("hot") && kept.contains("warm"))
    assert(result.size <= 5)
  }

  test("MinHashUnion group signature tracks the exact group-token-set jaccard") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val rows = SparkEntry
      .queries("q_source_similarity")(spark, sfDir)
      .as[(String, String, Double, Boolean)]
      .collect()
    // every pair's minhash-union estimate must sit inside the gated bound
    assert(rows.nonEmpty && rows.forall(_._4), "est_err_ok must hold for every source pair")
    // and the query's exact_jaccard must agree with a plain-Scala set computation
    val exactByPair = rows.map { case (a, b, j, _) => (a, b) -> j }.toMap
    val sh = docs
      .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("s"))
      .distinct()
    val sets = sh.as[(String, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val srcs = sets.keys.toSeq.sorted.take(5)
    for (a <- srcs; b <- srcs if a < b) {
      val exact = (sets(a) & sets(b)).size.toDouble / (sets(a) | sets(b)).size
      assert(math.abs(exactByPair((a, b)) - exact) < 1e-12, s"($a,$b): query=${exactByPair((a, b))} scala=$exact")
    }
  }

  test("multimodal feature extraction: decoded digest matches plain-Scala recompute from the generator") {
    import graft.operators.MediaCodec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val feats = Multimodal.decodeFeatures(spark, Multimodal.renderMedia(spark, docs), batchSize = 64)
      .collect().map(m => m.doc_id -> m).toMap
    // one doc per format, digest recomputed straight from the generator
    // (no codec in the loop — so an encode+decode bug pair can't cancel)
    for (d <- Seq(0L, 1L, 2L, 3L, 4L, 5L)) {
      val m = feats(d)
      Math.floorMod(d, 3) match {
        case 0 =>
          val (w, h) = (Multimodal.imgW(d), Multimodal.imgH(d))
          assert(m.fmt == "img" && m.width == w && m.height == h && m.frame_count == 1L)
          assert(m.byte_len == MediaCodec.bmpSize(w, h).toLong)
          val lum = (for (y <- 0 until h; x <- 0 until w) yield {
            val (r, g, b) = Multimodal.pixel(d, 0, x, y); r * 299L + g * 587L + b * 114L
          }).sum
          assert(m.content_sum == lum, s"img $d digest")
        case 1 =>
          val n = Multimodal.nSamples(d)
          assert(m.fmt == "audio" && m.frame_count == n.toLong && m.byte_len == MediaCodec.wavSize(n).toLong)
          val e = (0 until n).map(i => Multimodal.sample(d, i) + 32768L).sum
          assert(m.content_sum == e, s"audio $d digest")
        case _ =>
          val (w, h, nf) = (Multimodal.imgW(d), Multimodal.imgH(d), Multimodal.nFrames(d))
          assert(m.fmt == "video" && m.width == w && m.height == h && m.frame_count == nf.toLong)
          assert(m.byte_len == MediaCodec.gvidSize(Seq.fill(nf)(MediaCodec.bmpSize(w, h))).toLong)
          val lum = (for (t <- 0 until nf; y <- 0 until h; x <- 0 until w) yield {
            val (r, g, b) = Multimodal.pixel(d, t, x, y); r * 299L + g * 587L + b * 114L
          }).sum
          assert(m.content_sum == lum, s"video $d digest")
      }
    }
  }

  test("multimodal batching covers every row exactly once") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val media = Multimodal.renderMedia(spark, docs)
    assert(Multimodal.decodeFeatures(spark, media, batchSize = 7).count() == docs.count())
  }

  test("multimodal pHash: rendered near-dup images pair within radius; pigeonhole complete vs brute force") {
    import spark.implicits._
    import graft.operators.MediaCodec
    // 32x32 real BMPs; cell = 4x4 pixels; cell checkerboard high/low luma
    def cellOf(x: Int, y: Int): Int = (y / 4) * 8 + x / 4
    def render(lowCells: Set[Int], invert: Boolean): Array[Byte] =
      MediaCodec.encodeBmp(32, 32, (x, y) => {
        val c = cellOf(x, y)
        val hi = (c % 2 == 0) && !lowCells.contains(c)
        val v = if (hi ^ invert) 200 + (x + y) % 5 else 10 + (x + y) % 5
        (v, v, v)
      })
    val a = render(Set.empty, invert = false)
    // push even cells 2 and 40 into the low band → exactly their 2 hash bits flip
    val b = render(Set(2, 40), invert = false)
    val c = render(Set.empty, invert = true) // inverted: far from both
    val media = Seq((1L, "img", a), (2L, "img", b), (3L, "img", c))
      .toDF("doc_id", "fmt", "payload").as[Multimodal.MediaRow]
    val hashes = Multimodal.aHash(spark, media).toDF()
    val hs = hashes.collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(hs.values.forall(h => h._1 >= 0 && h._1 < (1L << 32) && h._2 >= 0 && h._2 < (1L << 32)),
      "halves must stay in unsigned-32 range (the cross-engine carrier)")
    def ham(x: (Long, Long), y: (Long, Long)) =
      java.lang.Long.bitCount(x._1 ^ y._1) + java.lang.Long.bitCount(x._2 ^ y._2)
    assert(ham(hs(1L), hs(2L)) == 2, s"constructed pair distance ${ham(hs(1L), hs(2L))}")
    assert(ham(hs(1L), hs(3L)) > 7, "inverted payload must be far")
    val pairs = Multimodal.phashPairs(hashes, radius = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      x <- hs.keys; y <- hs.keys; if x < y
      h = ham(hs(x), hs(y)); if h <= 7
    } yield (x, y, h)).toSet
    assert(pairs == brute, "pigeonhole candidates + exact verify must equal brute force")
    assert(pairs.contains((1L, 2L, 2)))
    intercept[IllegalArgumentException](Multimodal.phashPairs(hashes, radius = 8))
  }

  test("self kNN join: small-corpus dispatch is exactly the all-pairs ground truth") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val joined = Ann.knnJoin(emb, "vec_id", "embedding", k = 3)
    val direct = Ann.bruteForceTopK(emb, emb, 3)
    assert(joined.orderBy("query_id", "rank").collect().toSeq ==
      direct.orderBy("query_id", "rank").collect().toSeq,
      "brute dispatch must equal bruteForceTopK with queries = corpus")
    // every query with a defined cosine to >= 3 others fills its slots
    val counts = joined.groupBy("query_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 3L))
  }

  test("mutual-kNN clustering links only reciprocated neighbors; singletons label themselves") {
    // two tight clusters plus an isolated vector: k=1 links each tight
    // pair mutually; the isolated vector's nearest neighbor does NOT
    // reciprocate (its own cluster-mate ranks first), so mutuality
    // keeps it a singleton — the hub guard this operator exists for
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.01f, 0.0f)),
      (1L, Array(0.99f, 0.0f, 0.0f, 0.01f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.01f)),
      (3L, Array(0.01f, 0.99f, 0.0f, 0.0f)),
      (4L, Array(0.5f, 0.5f, 0.7f, 0.0f)) // nearest to cluster A, unreciprocated at k=1
    ).toDF("vec_id", "embedding")
    val out = Ann.mutualKnnClusters(vecs, "vec_id", "embedding", k = 1)
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L), (4L, 4L)))
  }

  test("self kNN join: IVF shuffle path recalls most brute neighbors, no corpus broadcast") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val brute = Ann.knnJoin(emb, "vec_id", "embedding", k = 3)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.knnJoinIvf(emb, "vec_id", "embedding", k = 3, numCells = 8, probes = 3)
    val got = ivf.select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    info(f"self-kNN IVF recall@3 (8 cells, 3 probes): $recall%.3f")
    assert(recall >= 0.6, s"IVF self-kNN recall too low: $recall")
    // the scale claim: the corpus-sized query side is NEVER broadcast —
    // candidates come from a shuffle join on the cell key (the
    // shuffle_hash hint rides the logical plan, so AQE re-planning
    // keeps the choice too)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"self-kNN IVF must not broadcast:\n$plan")
  }

  test("occupancy bounding: overfull cells split, duplicate masses salted, kernel == SQL-join twin") {
    import org.apache.spark.sql.expressions.Window
    // one forced cell holding 3 tight distinct clusters (60 each) plus an
    // EXACT-duplicate mass of 70 — the r14 watch-item shape in miniature.
    // cellTarget=8 → split threshold 32: the cell must split; the
    // duplicate mass is geometrically unsplittable (identical points all
    // land on one sub-centroid) so its sub-cell must salt.
    def clusterVec(c: Int, i: Int): Array[Float] = {
      val v = new Array[Float](8)
      v(c) = 1.0f
      v((c + 4) % 8) = 0.001f * (i % 7)   // tiny in-cluster spread
      v
    }
    val dupVec = Array(0.5f, 0.5f, 0.5f, 0.5f, 0f, 0f, 0f, 0f)
    val rows =
      (0 until 70).map(i => (i.toLong, dupVec)) ++
      (0 until 3).flatMap(c => (0 until 60).map(i => ((100 * (c + 1) + i).toLong, clusterVec(c, i))))
    val vecs = rows.toDF("vec_id", "embedding")
    val items = vecs.select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
      .withColumn("item_n", sqrt(call_function("graft_dot", col("item_vec"), col("item_vec"))))
      .withColumn("cell", lit(0))
    val queries = vecs.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .withColumn("query_n", sqrt(call_function("graft_dot", col("query_vec"), col("query_vec"))))
      .withColumn("cell", lit(0))
    val bounded = Ann.boundOccupancy(spark, items, queries, cellTarget = 8)
    assert(bounded.splitCells == 1, s"the one overfull cell must split, got ${bounded.splitCells}")
    assert(bounded.saltedKeys >= 1, s"the duplicate mass's sub-cell must salt, got ${bounded.saltedKeys}")
    // hard per-key bound: split tier targets <= 4*cellTarget; the salt
    // tier's hash spread is probabilistic, so allow 2x headroom
    val maxOcc = bounded.items.groupBy("ckey").count().agg(max("count")).as[Long].head()
    assert(maxOcc <= 64L, s"per-key occupancy must be bounded after split+salt, got $maxOcc")
    // bit-exactness: the kernel must equal the SQL join + window twin on
    // the SAME keyed frames, row for row and bit for bit on cos
    val k = 3
    def ranked(cands: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id").asc)
      cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("query_id"), col("item_id"), col("cos"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
    }
    val twin = ranked(
      bounded.items.join(bounded.queries.hint("shuffle_hash"), Seq("ckey"))
        .filter(col("query_id") =!= col("item_id"))
        .withColumn("cos", Ann.cosFromNorms(
          col("query_vec"), col("item_vec"), col("query_n"), col("item_n")))
        .filter(col("cos").isNotNull)
        .select(col("query_id"), col("item_id"), col("cos")))
    val kernel = ranked(Ann.cellTopK(spark, bounded.items, bounded.queries, k))
    assert(kernel == twin, "cellTopK must be bit-identical to the SQL join + window formulation")
    // exactness through the salt tier: a duplicate member's true top-3
    // under (cos desc, id asc) is the 3 smallest OTHER dup ids — queries
    // probe EVERY salt of their sub-cell, so salting must not lose them
    val full = Ann.knnJoinIvf(vecs, "vec_id", "embedding", k = k,
      numCells = 1, probes = 1, cellTarget = 8)
    val dupTop = full.filter(col("query_id") === 5L).orderBy(col("rank"))
      .select(col("item_id")).as[Long].collect().toSeq
    assert(dupTop == Seq(0L, 1L, 2L), s"salted duplicate mass must keep exact top-k, got $dupTop")
  }

  test("salt tier survives ANSI mode (try_element_at on the bounded salt map)") {
    // the salt lookup probes a map literal with MOSTLY-missing keys —
    // under spark.sql.ansi.enabled a plain element_at THROWS on a miss,
    // so the tier must use try_element_at (the rest of the engine is
    // ANSI-safe by the cosFromNorms try_divide discipline)
    val dupVec = Array(0.5f, 0.5f, 0.5f, 0.5f)
    val rows: Seq[(Long, Array[Float])] =
      (0 until 70).map(i => (i.toLong, dupVec)) ++
      (0 until 20).map(i => ((1000 + i).toLong, Array(1.0f, 0.001f * i, 0f, 0f)))
    val vecs = rows.toDF("vec_id", "embedding")
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val out = Ann.knnJoinIvf(vecs, "vec_id", "embedding", k = 3,
        numCells = 1, probes = 1, cellTarget = 8)
      val dupTop = out.filter(col("query_id") === 5L).orderBy(col("rank"))
        .select(col("item_id")).as[Long].collect().toSeq
      assert(dupTop == Seq(0L, 1L, 2L), s"ANSI session must keep exact salted top-k, got $dupTop")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("occupancy bounding survives a null-embedding-heavy corpus (null cells never decode)") {
    // >4x-cellTarget null embeddings: their cell AND norm are null — the
    // occupancy aggregations must skip the null group (a null-keyed row
    // would crash the primitive-Int decode) and the kernel must drop the
    // rows via the norm filter, leaving the real vectors' top-k intact
    val rows: Seq[(Long, Array[Float])] =
      (0 until 40).map(i => (i.toLong, null.asInstanceOf[Array[Float]])) ++
      (0 until 40).map(i => ((100 + i).toLong, Array(1.0f, 0.001f * i, 0f, 0f)))
    val vecs = rows.toDF("vec_id", "embedding")
    val out = Ann.knnJoinIvf(vecs, "vec_id", "embedding", k = 2,
      numCells = 1, probes = 1, cellTarget = 8, splitProbes = 64)
    val got = out.select("query_id").distinct().as[Long].collect().toSet
    assert(got == (0 until 40).map(i => (100 + i).toLong).toSet,
      s"every real vector ranks, no null vector does: ${got.toSeq.sorted.take(5)}...")
    assert(out.count() == 80L, "k=2 slots filled for all 40 real vectors")
  }

  test("quantizer sample sizing: >=32 points per wanted cell, driver-budget cap, explicit ask kept") {
    // below the floor the r13 fixed 20k default handed a 4096-cell
    // quantizer ~5 points per cell — mostly-empty/duplicate centroids
    assert(Ann.scaledTrainSample(20000L, 16) == 20000L, "small tables keep the requested sample")
    assert(Ann.scaledTrainSample(20000L, 4096) == 32L * 4096, "floor scales with the cell count")
    assert(Ann.scaledTrainSample(20000L, 100000) == (1L << 21), "driver-memory cap binds past 64k cells")
    assert(Ann.scaledTrainSample(5000000L, 100000) == 5000000L, "an explicit bigger ask is never shrunk")
  }

  test("two-level trainer: distributed fine level is deterministic and per-cell conditioned") {
    // 30k clustered vectors — bigger than the old 20k driver sample, so
    // the fine level MUST train through the distributed path (hash
    // filter + per-coarse-cell executor Lloyd), and two runs must still
    // produce bit-identical tables (no partition-order or RNG leak)
    val dim = 8
    val rows = (0L until 30000L).map { i =>
      val cluster = (i % 8).toInt
      val v = Array.tabulate(dim) { d =>
        val jitter = (org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(i * dim + d, 9L) % 1000L) / 5000.0f
        (if (d == cluster) 10.0f else 0.0f) + jitter
      }
      (i, v)
    }
    val vecs = spark.createDataset(rows).toDF("vec_id", "embedding").repartition(7)
    val (l1a, l2a) = Ann.ivfTrainHier(spark, vecs, 4, 4)
    val (l1b, l2b) = Ann.ivfTrainHier(spark, vecs, 4, 4)
    assert(java.util.Arrays.deepEquals(
      l1a.asInstanceOf[Array[AnyRef]], l1b.asInstanceOf[Array[AnyRef]]), "coarse level must be deterministic")
    assert(java.util.Arrays.deepEquals(
      l2a.asInstanceOf[Array[AnyRef]], l2b.asInstanceOf[Array[AnyRef]]), "fine level must be deterministic")
    // every coarse cell of this corpus is populated (8 clusters across 4
    // cells) — its fine table must be conditioned on ITS OWN vectors:
    // more than one distinct non-zero fine centroid per coarse cell
    l2a.zipWithIndex.foreach { case (fine, c) =>
      val distinctNonZero = fine.filter(_.exists(_ != 0.0f)).map(_.toSeq).distinct
      assert(distinctNonZero.length > 1,
        s"coarse cell $c trained a degenerate fine table: ${fine.map(_.toSeq).toSeq}")
    }
  }

  // One class per vector kernel, two table holders: the literal SQL form
  // (a local table) and the operators' broadcast form must agree, on the
  // whole-stage codegen path and on the interpreted one.
  test("broadcast-backed centroid columns equal the literal SQL forms bit-for-bit") {
    import graft.functions.expressions.{KernelTable, VectorOps}
    val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f), Array(0.5f, 0.5f, 0f))
    val l2 = Array.tabulate(4)(c => Array(Array(c * 1f, 0f, 1f), Array(0f, c * 1f, -1f)))
    val cb = Array(Array(Array(1f, 0f), Array(0f, 1f)), Array(Array(0.5f, 0.5f), Array(-1f, 0f)))
    // cell 0 has a sub-quantizer, cell 1 was never split
    val split = new java.util.HashMap[Integer, Array[Array[Float]]]()
    split.put(0, Array(Array(1f, 1f, 0f, 0f), Array(0f, 0f, 1f, 1f), Array(2f, 0f, 2f, 0f)))
    val vecs = (0L until 200L).map { i =>
      (i, if (i % 40 == 7) None else Some(Array.tabulate(4)(d => ((org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(i * 4 + d, 3L) % 2000L) / 700.0f))))
    }
    // the repartition keeps the projection out of ConvertToLocalRelation,
    // so it runs in the executed plan
    val df = spark.createDataset(vecs).toDF("vec_id", "v").repartition(3)
      .withColumn("cell", (col("vec_id") % 2).cast("int"))
    val bcC = Ann.bcastTable(spark, cents)
    val bcSplit = Ann.bcastTable(spark, split)
    val pairs = Seq(
      call_function("graft_nearest_centroid", col("v"), Ann.centroidsLit(cents)) ->
        Ann.nearestCentroid(col("v"), bcC),
      call_function("graft_nearest_centroids", col("v"), Ann.centroidsLit(cents), lit(3)) ->
        Ann.nearestCentroids(col("v"), bcC, 3),
      call_function("graft_nearest_centroid_dist", col("v"), Ann.centroidsLit(cents)) ->
        Ann.nearestCentroidDist(col("v"), bcC),
      call_function("graft_nearest_cells_hier", col("v"),
        Ann.centroidsLit(cents), Ann.centroidsLit3(l2), lit(2), lit(2)) ->
        Ann.nearestCellsHier(col("v"), bcC, Ann.bcastTable(spark, l2), 2, 2),
      call_function("graft_pq_encode", col("v"), Ann.centroidsLit3(cb)) ->
        Ann.pqEncode(col("v"), Ann.bcastTable(spark, cb)),
      Ann.subCells(col("cell"), col("v"), KernelTable.Local(split), 2) ->
        Ann.subCells(col("cell"), col("v"), bcSplit, 2))
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
      case _ => a == b
    }
    def check(codegen: Boolean): Unit = {
      val both = df.select(col("cell") +: col("v") +:
        pairs.zipWithIndex.flatMap { case ((l, b), i) => Seq(l.as(s"lit_$i"), b.as(s"bc_$i")) }: _*)
      val rows = both.collect()
      val plan = both.queryExecution.executedPlan
      val stages = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      assert(stages.find(plan)(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
        .isDefined == codegen, s"codegen = $codegen, plan:\n$plan")
      assert(rows.length == vecs.length && rows.count(_.isNullAt(1)) == 5)
      rows.foreach { r =>
        pairs.indices.foreach { i =>
          val (l, b) = (r.get(2 + 2 * i), r.get(3 + 2 * i))
          assert(same(l, b), s"kernel $i diverged (codegen = $codegen): literal $l, broadcast $b")
          assert((l == null) == r.isNullAt(1), s"kernel $i: a NULL vector must give NULL, got $l")
        }
        // the sub-cell kernel against VectorOps.subCells on the driver
        if (!r.isNullAt(1)) {
          val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(r.getSeq[Float](1).toArray)
          val want = VectorOps.subCells(r.getInt(0), v, split, 2).toIntArray().toSeq
          assert(r.getSeq[Int](2 + 2 * (pairs.length - 1)) == want)
          assert(want.length == (if (r.getInt(0) == 0) 2 else 1))
        }
      }
    }
    check(codegen = true)
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      check(codegen = false)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
