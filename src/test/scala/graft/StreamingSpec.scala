package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Ingest

/**
 * Structured-streaming parity: the same windowedAgg over a real
 * MemoryStream (with watermark) must produce the batch result once the
 * stream is drained — the reference's online/batch ingest equivalence
 * (yupana-spark ETLFunctions processes both DStream and RDD paths).
 */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("windowedAgg over a stream equals the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:05:00"), 10L, "click", 1.5),
      (2L, Timestamp.valueOf("2024-01-01 00:45:00"), 11L, "click", 2.5),
      (3L, Timestamp.valueOf("2024-01-01 01:05:00"), 10L, "view", 4.0),
      (4L, Timestamp.valueOf("2024-01-01 00:59:59"), 12L, "view", 8.0),
      (5L, Timestamp.valueOf("2024-01-01 02:00:00"), 13L, "click", 16.0)
    )
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    stream.addData(rows: _*)
    val streamDf = stream
      .toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Ingest
      .windowedAgg(streamDf)
      .writeStream
      .format("memory")
      .queryName("win_out")
      .outputMode("complete")
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark
      .table("win_out")
      .orderBy("window_start", "event_type")
      .as[(Timestamp, String, Long, Double)]
      .collect()
      .toSeq
    val batch = Ingest
      .windowedAgg(rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .orderBy("window_start", "event_type")
      .as[(Timestamp, String, Long, Double)]
      .collect()
      .toSeq
    assert(streamed == batch)
    assert(batch.map(r => (r._1.toString, r._2, r._3, r._4)) == Seq(
      ("2024-01-01 00:00:00.0", "click", 2L, 4.0),
      ("2024-01-01 00:00:00.0", "view", 1L, 8.0),
      ("2024-01-01 01:00:00.0", "view", 1L, 4.0),
      ("2024-01-01 02:00:00.0", "click", 1L, 16.0)
    ))
  }

  test("flatMapGroupsWithState sessionization matches the batch formulation for closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.Ev
    // two users; user 10 has two sessions split by a 40-min gap
    val evs = Seq(
      Ev(10L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, 1L),
      Ev(10L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0, 2L),
      Ev(10L, Timestamp.valueOf("2024-01-01 00:50:00"), 4.0, 3L),
      Ev(11L, Timestamp.valueOf("2024-01-01 00:05:00"), 8.0, 4L)
    )
    val stream = MemoryStream[Ev]
    stream.addData(evs: _*)
    val q = Sessionize
      .streaming(spark, stream.toDS(), gapMinutes = 30, watermark = "0 seconds")
      .writeStream
      .format("memory")
      .queryName("sessions_out")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    // advance the watermark far past every open session's timeout
    stream.addData(Ev(99L, Timestamp.valueOf("2024-01-02 12:00:00"), 0.0, 5L))
    q.processAllAvailable()
    q.stop()

    val streamed = spark
      .table("sessions_out")
      .filter($"user_id" =!= 99L)
      .orderBy("user_id", "session_start")
      .as[(Long, Timestamp, Timestamp, Long, Double)]
      .collect()
      .toSeq
    val batch = Sessionize
      .batch(
        evs.toDF("user_id", "ts", "value", "event_id"),
        gapMinutes = 30
      )
      .orderBy("user_id", "session_start")
      .as[(Long, Timestamp, Timestamp, Long, Double)]
      .collect()
      .toSeq
    assert(streamed == batch)
    assert(batch.length == 3) // user 10: 2 sessions, user 11: 1
    assert(batch.head._4 == 2L && batch.head._5 == 3.0)
  }

  test("streaming sessionization keeps microsecond precision at gap boundaries (batch parity)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.Ev
    // 300.0001s apart at a 5-min gap, with both timestamps inside the
    // SAME millisecond offset: micros say TWO sessions; the old
    // ms-truncating state update measured exactly 300s and said one
    val evs = Seq(
      Ev(10L, Timestamp.valueOf("2024-01-01 00:00:00.000600"), 1.0, 1L),
      Ev(10L, Timestamp.valueOf("2024-01-01 00:05:00.000700"), 2.0, 2L)
    )
    val stream = MemoryStream[Ev]
    stream.addData(evs: _*)
    val q = Sessionize
      .streaming(spark, stream.toDS(), gapMinutes = 5, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions_us").outputMode("append").start()
    q.processAllAvailable()
    stream.addData(Ev(99L, Timestamp.valueOf("2024-01-02 12:00:00"), 0.0, 3L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions_us").filter($"user_id" =!= 99L)
      .orderBy("session_start")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSeq
    val batch = Sessionize.batch(evs.toDF("user_id", "ts", "value", "event_id"), gapMinutes = 5)
      .orderBy("session_start")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSeq
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(batch.length == 2, "micros must split the sessions")
    assert(batch.head._2 == Timestamp.valueOf("2024-01-01 00:00:00.000600"),
      "emitted session bounds must keep sub-ms precision")
  }

  test("the streaming twins' shared event buffer keeps each twin's state schema") {
    import graft.streaming.EventBuffer.Buf
    import org.apache.spark.sql.Encoders.product
    // checkpoints written by the twins' own state classes restart against it
    assert(product[Buf[(Long, Double, Long)]].schema == product[StreamingSpec.SessionAcc].schema)
    assert(product[Buf[(Long, String, Long)]].schema == product[StreamingSpec.FunnelAcc].schema)
    assert(product[Buf[(Long, Boolean)]].schema == product[StreamingSpec.RetAcc].schema)
  }

  test("streaming exact dedup drops re-delivered events; sketches run stateless on streams") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:05:00"), 10L, "click", 1.5),
      (1L, Timestamp.valueOf("2024-01-01 00:05:00"), 10L, "click", 1.5), // duplicate delivery
      (2L, Timestamp.valueOf("2024-01-01 00:06:00"), 11L, "view", 2.5)
    )
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    stream.addData(rows: _*)
    val deduped = Ingest.dedupStream(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      keyCols = Seq("event_id")
    )
    val q = deduped.writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == 2)

    // minhash signatures are a stateless narrow map — run on a stream
    val stream2 = MemoryStream[(Long, Timestamp, Long, String, Double)]
    stream2.addData(rows: _*)
    val sigs = graft.operators.Dedup.minhashSigs(
      stream2.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      "event_id", "event_type", 16, 2
    )
    val q2 = sigs.writeStream.format("memory").queryName("sig_out").outputMode("append").start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table("sig_out").count() == 3)
  }

  test("stream-stream interval join matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val purchases = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 10L),
      (2L, Timestamp.valueOf("2024-01-01 01:00:00"), 11L)
    )
    val errors = Seq(
      (5L, Timestamp.valueOf("2024-01-01 00:12:00"), 10L), // within 5 min of purchase 1
      (6L, Timestamp.valueOf("2024-01-01 00:30:00"), 10L), // outside
      (7L, Timestamp.valueOf("2024-01-01 01:02:00"), 11L) // within for purchase 2
    )
    val ps = MemoryStream[(Long, Timestamp, Long)]
    val es = MemoryStream[(Long, Timestamp, Long)]
    ps.addData(purchases: _*)
    es.addData(errors: _*)
    val p = ps.toDF().toDF("purchase_id", "pts", "pu").withWatermark("pts", "1 hour")
    val e = es.toDF().toDF("error_id", "ets", "eu").withWatermark("ets", "1 hour")
    val joined = p.join(
      e,
      col("pu") === col("eu") && col("ets") >= col("pts") &&
        col("ets") <= col("pts") + expr("INTERVAL 5 MINUTE")
    )
    val q = joined
      .select("purchase_id", "error_id")
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 5L), (2L, 7L)))
  }

  test("TsLayout is readable as a file stream (continuous ingest tailing the table)") {
    import org.apache.spark.sql.functions._
    val layout = tempDir("stream_layout_tail") + "/events"
    val events = graft.sources.EventTime.normalizeTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    graft.sources.TsLayout.write(events, graft.schema.TestSchema.events, layout)
    val stream = spark.readStream
      .schema(spark.read.parquet(layout).schema)
      .parquet(layout)
    val q = stream
      .groupBy(col("event_type")).count()
      .writeStream.format("memory").queryName("tail_out").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tail_out").as[(String, Long)].collect().toMap
    val batch = events.groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("incremental streaming dedup finds near-dups across micro-batches via the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("sdedup")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.run(
      spark,
      stream.toDF().toDF("doc_id", "text"),
      indexPath = s"$base/index",
      matchesPath = s"$base/matches",
      threshold = 0.5,
      checkpoint = s"$base/ckpt"
    )
    // batch 1: two distinct docs
    stream.addData(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about catalyst optimizer internals")
    )
    q.processAllAvailable()
    // batch 2: a near-dup of doc 1 plus a fresh doc
    stream.addData(
      (3L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (4L, "yet another unrelated piece mentioning columnar storage formats")
    )
    q.processAllAvailable()
    q.stop()

    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(matches.contains((3L, 1L)), s"expected (3,1) in $matches")
    assert(!matches.exists { case (a, b) => Set(a, b).intersect(Set(2L, 4L)).nonEmpty })
    assert(spark.read.parquet(s"$base/index/sigs").count() == 4) // all docs indexed
  }

  test("the streaming index probe broadcasts the batch — the index side joins with zero exchange") {
    // the 100 TB contract of the broadcast-probe discipline
    // (StreamingDedup scaladoc): the persisted index must STREAM
    // through the broadcast banded batch — a two-sided band join that
    // shuffles the index once per trigger is the regression this pins.
    // AQE off so the captured plan is the static tree; auto-broadcast
    // OFF so a BroadcastHashJoin can only come from the explicit hint.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    val base = tempDir("sdedup_plan")
    try {
      // a batch within the broadcast bound takes the driver path, which
      // joins nothing; localMax = 0 forces the distributed path pinned here
      def trigger(id: Long, text: String): Unit = graft.streaming.StreamingDedup.runBatch(
        Seq((id, text)).toDF("doc_id", "text"), id, s"$base/index", s"$base/matches",
        threshold = 0.5, localMax = 0L)
      trigger(1L, "the quick brown fox jumps over the lazy dog by the river")
      // the SECOND batch is the one that probes an existing index
      trigger(2L, "the quick brown fox jumps over the lazy dog by the creek")
      import scala.jdk.CollectionConverters._
      def indexScanIn(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p.exists {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.contains(s"$base/index"))
        case _ => false
      }
      def probeJoins = plans.asScala.toList.flatMap(_.collect {
        case j: BroadcastHashJoinExec if indexScanIn(j.left) || indexScanIn(j.right) => j
      })
      // listener events post asynchronously — poll until the probe
      // join's plan lands (bounded)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (probeJoins.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(probeJoins.nonEmpty,
        "no BroadcastHashJoin over the index scan was executed — the explicit broadcast hint is gone")
      probeJoins.foreach { j =>
        val streamed = j.buildSide match {
          case BuildLeft => j.right
          case BuildRight => j.left
        }
        assert(indexScanIn(streamed),
          s"the INDEX side must be the streamed (non-broadcast) side:\n${j.toString.take(2000)}")
        assert(!streamed.exists { case _: ShuffleExchangeExec => true; case _ => false },
          s"the index side must reach the probe join with zero exchange:\n${streamed.toString.take(2000)}")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  test("a file-less crashed shard dir cannot poison the stream's index-presence check") {
    // the crash window: the very first batch died inside its shard
    // write, leaving sigs/shard=stream_0 EXISTING but without data
    // files. A presence check trusting the dir name alone would read
    // a zero-data-file parquet dir and die on schema inference at
    // every replay — the stream could never progress
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("sdedup_crash")
    val ghost = new org.apache.hadoop.fs.Path(s"$base/index/sigs/shard=stream_0/_temporary")
    ghost.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(ghost)
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.run(
      spark, stream.toDF().toDF("doc_id", "text"),
      indexPath = s"$base/index", matchesPath = s"$base/matches",
      threshold = 0.5, checkpoint = s"$base/ckpt")
    stream.addData(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about catalyst optimizer internals"))
    q.processAllAvailable()
    // the replayed batch 0 overwrote the ghost shard; a later batch
    // must probe the now-real index normally
    stream.addData((3L, "the quick brown fox jumps over the lazy dog near the river bend"))
    q.processAllAvailable()
    q.stop()
    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(matches.contains((3L, 1L)), s"expected (3,1) in $matches")
    assert(spark.read.parquet(s"$base/index/sigs").count() == 3)
  }

  test("stream-built text index is batch-probe-able, inventoried, and compactable (one format)") {
    // the unification contract: a corpus admitted through the stream is
    // the SAME index artifact the batch side builds — batch probe, admin
    // inventory, and compaction all run on it with no conversion
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("sdedup_unified")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.run(
      spark,
      stream.toDF().toDF("doc_id", "text"),
      indexPath = s"$base/index",
      matchesPath = s"$base/matches",
      threshold = 0.5,
      checkpoint = s"$base/ckpt"
    )
    val d1 = (1L, "the quick brown fox jumps over the lazy dog near the river bank")
    val d2 = (2L, "completely different content about catalyst optimizer internals")
    val d3 = (3L, "yet another unrelated piece mentioning columnar storage formats")
    stream.addData(d1, d2)
    q.processAllAvailable()
    stream.addData(d3)
    q.processAllAvailable()
    q.stop()
    val corpus = Seq(d1, d2, d3).toDF("doc_id", "text")

    // batch probe via the persisted geometry — exact-verify semantics
    val probe = Seq(
      (20L, "the quick brown fox jumps over the lazy dog near the river bend"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.crossJaccardPairsIndexed(
      probe, s"$base/index", corpus, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((20L, 1L)), s"batch probe over the stream-built index: $pairs")

    // admin inventory sees the stream shards + geometry (the command
    // class directly — the SQL parse path is AdminSqlSpec's subject)
    val inv = graft.sql.ShowTextIndexCommand(s"$base/index").run(spark)
    assert(inv.map(_.getString(1)).sorted.toSeq == Seq("stream_0", "stream_1"))
    assert(inv.forall(_.getDouble(6) == 0.5)) // threshold column (schema-less command rows)

    // compaction folds the stream shards into __base; probe unchanged
    graft.operators.Dedup.compactTextIndex(spark, s"$base/index")
    val shards = spark.read.parquet(s"$base/index/sigs").select("shard").distinct()
      .as[String].collect().toSeq
    assert(shards == Seq("__base"))
    val pairsAfter = graft.operators.Dedup.crossJaccardPairsIndexed(
      probe, s"$base/index", corpus, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsAfter == pairs)
  }

  test("the stream extends a batch-built index and reads its geometry from the meta") {
    // buildTextIndex at a NON-default geometry (threshold 0.35); the
    // stream is started with DIFFERENT (default) parameters — matches
    // can only be found if the stream banded with the meta's geometry
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("sdedup_extend")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark catalyst optimizer and tungsten"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.buildTextIndex(corpus, "doc_id", "text", s"$base/index", threshold = 0.35)
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.run(
      spark,
      stream.toDF().toDF("doc_id", "text"),
      indexPath = s"$base/index",
      matchesPath = s"$base/matches",
      checkpoint = s"$base/ckpt"
    )
    stream.addData((10L, "the quick brown fox jumps over the lazy dog near the river bank tonight"))
    q.processAllAvailable()
    q.stop()
    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(matches == Set((10L, 1L)), s"stream must band with the index's meta geometry: $matches")
    // the appended shard sits beside __base in the one shared layout
    val shards = spark.read.parquet(s"$base/index/sigs").select("shard").distinct()
      .as[String].collect().sorted.toSeq
    assert(shards == Seq("__base", "stream_0"))
  }

  test("re-sending an already-indexed near-dup pair emits one direction, not both") {
    // a replayed or re-sent batch whose members are already in the index
    // must not match its docs against their own index copies in both
    // directions — the within-batch ordering stays the only source of
    // same-batch pairs (index copies of batch ids are anti-joined away)
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("sdedup_resend")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.run(
      spark,
      stream.toDF().toDF("doc_id", "text"),
      indexPath = s"$base/index",
      matchesPath = s"$base/matches",
      threshold = 0.5,
      checkpoint = s"$base/ckpt"
    )
    val d5 = "the quick brown fox jumps over the lazy dog near the river bank"
    val d100 = "the quick brown fox jumps over the lazy dog near the river bend"
    stream.addData((5L, d5), (100L, d100))
    q.processAllAvailable()
    stream.addData((5L, d5), (100L, d100)) // same ids re-sent, now also indexed
    q.processAllAvailable()
    q.stop()
    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(!matches.exists { case (a, b) => matches.contains((b, a)) },
      s"a pair must never appear in both directions: $matches")
    assert(matches == Set((100L, 5L)), s"only the canonical within-batch direction: $matches")
  }

  test("streaming dedup matches an indexed duplicate even when the new id is smaller") {
    // ids carry no arrival-order guarantee: a new document whose id is
    // SMALLER than its already-indexed duplicate's id must still match
    // (an a.id > b.id join against the index would silently drop it)
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("sdedup_idorder")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.run(
      spark,
      stream.toDF().toDF("doc_id", "text"),
      indexPath = s"$base/index",
      matchesPath = s"$base/matches",
      threshold = 0.5,
      checkpoint = s"$base/ckpt"
    )
    stream.addData((100L, "the quick brown fox jumps over the lazy dog near the river bank"))
    q.processAllAvailable()
    stream.addData((5L, "the quick brown fox jumps over the lazy dog near the river bend"))
    q.processAllAvailable()
    q.stop()
    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(matches == Set((5L, 100L)), s"smaller-id arrival must match the index: $matches")

    // same property for the embeddings path
    val ebase = tempDir("ssem_idorder")
    val estream = MemoryStream[(Long, Array[Float])]
    val eq = graft.streaming.StreamingDedup.runEmbeddings(
      spark,
      estream.toDF().toDF("vec_id", "embedding"),
      indexPath = s"$ebase/index",
      matchesPath = s"$ebase/matches",
      threshold = 0.9,
      checkpoint = s"$ebase/ckpt"
    )
    estream.addData((100L, Array(1.0f, 0.01f, 0.0f, 0.0f)))
    eq.processAllAvailable()
    estream.addData((5L, Array(0.99f, 0.0f, 0.01f, 0.0f)))
    eq.processAllAvailable()
    eq.stop()
    val ematches = spark.read.parquet(s"$ebase/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(ematches == Set((5L, 100L)), s"smaller-id vector must match the index: $ematches")
  }

  test("streaming semantic dedup screens new embeddings against the persisted vector index") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("ssemdedup")
    val stream = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingDedup.runEmbeddings(
      spark,
      stream.toDF().toDF("vec_id", "embedding"),
      indexPath = s"$base/index",
      matchesPath = s"$base/matches",
      threshold = 0.9,
      checkpoint = s"$base/ckpt"
    )
    // batch 1: two orthogonal vectors
    stream.addData(
      (1L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.01f, 0.0f)))
    q.processAllAvailable()
    // batch 2: a near-dup of vector 1 plus a fresh direction
    stream.addData(
      (3L, Array(0.99f, 0.0f, 0.01f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
    q.processAllAvailable()
    q.stop()

    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(matches.contains((3L, 1L)), s"expected (3,1) in $matches")
    assert(!matches.exists { case (a, b) => Set(a, b).intersect(Set(2L, 4L)).nonEmpty })
    assert(spark.read.parquet(s"$base/index").count() == 4) // all vectors indexed
  }

  test("streaming semantic dedup at a LOW threshold probes IVF cells, not degenerate bands") {
    // t=0.5 forces r <= 2 sign banding where band collisions approach
    // all-pairs — the streaming dispatch must switch to the persisted
    // IVF quantizer (trained once on the first batch) and still find
    // cross-batch and within-batch duplicates via cell-local probes
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("ssem_lowt")
    val stream = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingDedup.runEmbeddings(
      spark,
      stream.toDF().toDF("vec_id", "embedding"),
      indexPath = s"$base/index",
      matchesPath = s"$base/matches",
      threshold = 0.5,
      checkpoint = s"$base/ckpt",
      ivfCells = 4
    )
    stream.addData(
      (1L, Array(1.0f, 0.05f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.05f, 0.0f)))
    q.processAllAvailable()
    // batch 2: near-dup of 1 (cosine ~0.999 >= 0.5) + an in-batch pair
    stream.addData(
      (3L, Array(0.99f, 0.04f, 0.01f, 0.0f)),
      (10L, Array(0.0f, 0.0f, 1.0f, 0.06f)),
      (11L, Array(0.0f, 0.01f, 0.99f, 0.05f)))
    q.processAllAvailable()
    q.stop()
    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(matches.contains((3L, 1L)), s"cross-batch near-dup must match via its cell: $matches")
    assert(matches.contains((11L, 10L)), s"within-batch pair must match: $matches")
    assert(!matches.exists { case (a, b) => Set(a, b).contains(2L) },
      s"orthogonal vector must not pair: $matches")
    // the quantizer is persisted once, invisible to the index read
    assert(new java.io.File(s"$base/index/_centroids").exists())
    assert(spark.read.parquet(s"$base/index").count() == 5)
  }

  test("streaming semantic dedup re-trains its quantizer when a batch drifts") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("ssem_drift")
    val stream = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingDedup.runEmbeddings(
      spark,
      stream.toDF().toDF("vec_id", "embedding"),
      indexPath = s"$base/index",
      matchesPath = s"$base/matches",
      threshold = 0.5, // low threshold → IVF cell mode
      checkpoint = s"$base/ckpt",
      ivfCells = 4,
      driftRetrainFraction = 0.5
    )
    def cents(): Seq[Seq[Float]] =
      spark.read.parquet(s"$base/index/_centroids").orderBy(col("cell"))
        .collect().map(_.getSeq[Float](1).toSeq).toSeq
    def p95(): Double =
      spark.read.parquet(s"$base/index/_centroids_stats").head().getDouble(0)

    // batch 1 trains the quantizer on a cluster near axis 1
    stream.addData((1L to 8L).map(i =>
      (i, Array(1.0f + 0.02f * i, 0.02f * i, 0.0f, 0.0f))): _*)
    q.processAllAvailable()
    val trained = cents()
    val trainedP95 = p95()

    // batch 2: the SAME distribution (exact positions re-used under new
    // ids) — drift ~0, centroids must NOT move
    stream.addData((21L to 24L).map(i =>
      (i, Array(1.0f + 0.02f * (i - 20), 0.02f * (i - 20), 0.0f, 0.0f))): _*)
    q.processAllAvailable()
    assert(cents() == trained, "in-distribution batch must not re-train")

    // batch 3: a far-shifted cluster (plus a planted near-dup pair) —
    // every vector quantizes far beyond the train-time p95 → re-train
    stream.addData(
      (31L, Array(0.0f, 0.0f, 40.0f, 40.5f)),
      (32L, Array(0.0f, 0.1f, 40.1f, 40.4f)), // near-dup of 31
      (33L, Array(0.0f, 0.0f, 60.0f, 10.0f)))
    q.processAllAvailable()
    q.stop()
    assert(cents() != trained, "drifted batch must re-train the quantizer")
    assert(p95() != trainedP95, "stats must describe the re-trained quantizer")
    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "existing_id").as[(Long, Long)].collect().toSet
    assert(matches.contains((32L, 31L)),
      s"planted near-dup must still match through the re-trained cells: $matches")
  }

  test("streaming keep-best: a higher-quality late arrival replaces the indexed representative") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("skeepbest")
    val stream = MemoryStream[(Long, String, Double)]
    val q = graft.streaming.StreamingDedup.runKeepBest(
      spark,
      stream.toDF().toDF("doc_id", "text", "q"),
      score = col("q"),
      indexPath = s"$base/index",
      decisionsPath = s"$base/decisions",
      threshold = 0.5,
      checkpoint = s"$base/ckpt"
    )
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    def decisions(): Map[Long, (Boolean, Long)] =
      spark.read.parquet(s"$base/decisions")
        .groupBy(col("doc_id"))
        .agg(org.apache.spark.sql.functions.max_by(
          struct(col("kept"), col("rep_id")), col("batch_id")).as("d"))
        .select(col("doc_id"), col("d.kept"), col("d.rep_id"))
        .as[(Long, Boolean, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    def activeReps(): Set[Long] = {
      val idx = spark.read.parquet(s"$base/index").select(col("id"))
      val rp = s"$base/index_retired"
      val active =
        if (new java.io.File(rp).exists())
          idx.join(spark.read.parquet(rp).select(col("id")), Seq("id"), "left_anti")
        else idx
      active.as[Long].collect().toSet
    }

    // batch 1: within-batch near-dup pair with different quality (11
    // beats 10) + an unrelated doc — batch-local keep-best applies
    stream.addData(
      (10L, textA, 0.4),
      (11L, textA + " indeed", 0.6),
      (12L, "completely different text about gardens and walls and towers", 0.5))
    q.processAllAvailable()
    assert(activeReps() == Set(11L, 12L), s"batch-local keep-best: ${activeReps()}")

    // batch 2: a HIGHER-quality near-dup arrives late → replaces rep 11
    stream.addData((20L, textA + " again", 0.9))
    q.processAllAvailable()
    assert(activeReps() == Set(20L, 12L), s"late better arrival must replace: ${activeReps()}")

    // batch 3: a lower-quality near-dup must now lose to the NEW rep 20
    // (proof the replacement took effect in the probe surface)
    stream.addData((30L, textA + " truly", 0.7))
    q.processAllAvailable()
    q.stop()
    assert(activeReps() == Set(20L, 12L), s"worse arrival must not displace: ${activeReps()}")
    val d = decisions()
    assert(d(10L) == (false, 11L), s"10 lost in-batch to 11: $d")
    assert(d(11L) == (false, 20L), s"11 was demoted to 20: $d")
    assert(d(20L) == (true, 20L), s"20 is the retained rep: $d")
    assert(d(30L) == (false, 20L), s"30 lost to the replaced rep 20: $d")
    assert(d(12L) == (true, 12L), s"unrelated doc keeps itself: $d")
  }

  test("streaming keep-best replay: a re-run batch must not resurrect the rep it demoted") {
    // simulates foreachBatch's failure contract: the batch's writes
    // (including the tombstone partition) landed, the checkpoint did
    // not, and the SAME batchId re-runs. Reading one's own tombstone
    // partition would hide the demoted rep from the probe, index the
    // winner as a fresh rep, and then overwrite the tombstone partition
    // with an empty one — leaving BOTH reps active.
    val base = tempDir("skb_replay")
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    def activeReps(): Set[Long] = {
      val idx = spark.read.parquet(s"$base/index").select(col("id"))
      val rp = s"$base/index_retired"
      val active =
        if (new java.io.File(rp).exists())
          idx.join(spark.read.parquet(rp).select(col("id")), Seq("id"), "left_anti")
        else idx
      active.as[Long].collect().toSet
    }
    val b1 = Seq((10L, textA, 0.4)).toDF("doc_id", "text", "q")
    graft.streaming.StreamingDedup.keepBestBatch(
      b1, 0L, col("q"), s"$base/index", s"$base/decisions")
    val b2 = Seq((20L, textA + " again", 0.9)).toDF("doc_id", "text", "q")
    graft.streaming.StreamingDedup.keepBestBatch(
      b2, 1L, col("q"), s"$base/index", s"$base/decisions")
    assert(activeReps() == Set(20L), s"after replacement: ${activeReps()}")
    // replay batch 1 (its partial writes are on disk, same batchId)
    graft.streaming.StreamingDedup.keepBestBatch(
      b2, 1L, col("q"), s"$base/index", s"$base/decisions")
    assert(activeReps() == Set(20L),
      s"replay must converge, not resurrect the demoted rep: ${activeReps()}")
    val d = spark.read.parquet(s"$base/decisions")
      .filter(col("doc_id") === 10L && col("batch_id") === 1L)
      .select(col("kept"), col("rep_id")).as[(Boolean, Long)].collect().toSet
    assert(d == Set((false, 20L)), s"the demotion decision must survive the replay: $d")
  }

  test("driver-resolved keep-best picks dedupKeepBest's winner when scores are -0.0 and 0.0") {
    // one cluster (identical texts) whose scores are equal under SQL
    // comparison but not under Double.compare: the min-id tie-break
    // must pick the winner on both paths
    val base = tempDir("skb_signed_zero")
    val text = "the quick brown fox jumps over the lazy dog near the river bank today"
    val batch = Seq((1L, text, -0.0), (2L, text, 0.0)).toDF("doc_id", "text", "q")
    graft.streaming.StreamingDedup.keepBestBatch(
      batch, 0L, col("q"), s"$base/index", s"$base/decisions")
    val kept = spark.read.parquet(s"$base/decisions").filter(col("kept"))
      .select(col("doc_id")).as[Long].collect().toSet
    val want = graft.operators.Dedup
      .dedupKeepBest(batch, "doc_id", col("q"), Seq((1L, 2L)).toDF("id_a", "id_b"))
      .filter(col("keep")).select(col("doc_id")).as[Long].collect().toSet
    assert(want == Set(1L), s"dedupKeepBest ties -0.0 with 0.0 and keeps the min id: $want")
    assert(kept == want, s"driver-resolved winner $kept differs from dedupKeepBest's $want")
  }

  test("streaming contamination screens micro-batches against the static eval gram set") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("scontam")
    val eval = graft.streaming.StreamingContamination.evalGramSet(
      Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"),
      "doc_id", "text", n = 5)
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingContamination.run(
      spark,
      stream.toDF().toDF("doc_id", "text"),
      eval,
      reportPath = s"$base/report",
      n = 5,
      checkpoint = s"$base/ckpt")
    // batch 1: one verbatim eval overlap, one clean doc
    stream.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally clean document with no benchmark overlap at all here"))
    q.processAllAvailable()
    // batch 2: partial overlap (shares a 5-gram window with the eval doc)
    stream.addData((3L, "alpha beta gamma delta epsilon and then novel words follow"))
    q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(s"$base/report")
      .select("doc_id", "contamination_frac").as[(Long, Double)].collect().toMap
    assert(rep(1L) == 1.0, s"verbatim eval doc must be fully contaminated: $rep")
    assert(rep(2L) == 0.0, s"clean doc must be zero: $rep")
    assert(rep(3L) > 0.0 && rep(3L) < 1.0, s"partial overlap must be fractional: $rep")
    // replays write to batch_id partitions: report covers every doc exactly once
    assert(spark.read.parquet(s"$base/report").count() == 3)
  }

  test("streaming ingest feeds the layout AND the rollup changelog end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import graft.schema.TestSchema
    import graft.sources.{Changelog, Rollup}
    import graft.functions.F
    val base = tempDir("stream_layout")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = Ingest.streamToLayout(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      TestSchema.events, s"$base/fact", s"$base/cl", s"$base/ckpt")
    stream.addData(
      (1L, Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "click", 1.0),
      (2L, Timestamp.valueOf("2024-02-06 10:00:00"), 2L, "view", 2.0))
    q.processAllAvailable()
    stream.addData((3L, Timestamp.valueOf("2024-02-07 10:00:00"), 1L, "click", 3.0))
    q.processAllAvailable()
    q.stop()

    val fact = spark.read.parquet(s"$base/fact")
    assert(fact.count() == 3)
    // the stream started this layout, so it carries the TsLayout marker:
    // a ts range prunes ts_bucket partitions
    val feb = graft.sources.TsLayout.read(spark, s"$base/fact")
      .filter(col("ts") >= to_timestamp(lit("2024-02-01 00:00:00")))
    assert(feb.count() == 2)
    assert("PartitionFilters: \\[[^\\]]*ts_bucket".r.findFirstIn(feb.queryExecution.executedPlan.toString).isDefined,
      feb.queryExecution.executedPlan.toString.take(2000))
    // both micro-batches marked their touched buckets dirty
    val dirty = Changelog.dirtyBuckets(spark, s"$base/cl").map(_._1).toSet
    assert(dirty == Set("2024-01", "2024-02"))

    // the incremental rollup consumes exactly those buckets
    val roll = Rollup(
      name = "events_by_day",
      timeExpr = F.truncDay(col("ts")),
      groupBy = Seq(col("event_type")),
      aggregates = Seq(count(lit(1)).as("c")))
    val run = roll.materializeIncremental(
      fact, s"$base/rollup", s"$base/cl", col("ts_bucket"), c => date_format(c, "yyyy-MM"))
    assert(run.recomputed.toSet == Set("2024-01", "2024-02"))
    assert(Changelog.dirtyBuckets(spark, s"$base/cl").isEmpty)
    assert(spark.read.parquet(s"$base/rollup").agg(sum("c")).head().getLong(0) == 3L)
  }

  test("log-structured streaming upsert: latest version wins, compaction preserves state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Upsert
    val base = tempDir("upsert_log")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    val stream = MemoryStream[(Long, String, Double)]
    val q = Upsert.streamUpsert(
      stream.toDF().toDF("key", "status", "amount"), s"$base/log", s"$base/ckpt")
    stream.addData((1L, "new", 10.0), (2L, "new", 20.0))
    q.processAllAvailable()
    stream.addData((1L, "paid", 11.0), (3L, "new", 30.0)) // re-put key 1
    q.processAllAvailable()
    q.stop()

    def latest() = Upsert.readLatest(spark, s"$base/log", Seq("key"))
      .as[(Long, String, Double)].collect().toSet
    val expected = Set((1L, "paid", 11.0), (2L, "new", 20.0), (3L, "new", 30.0))
    assert(latest() === expected)

    // compaction: one version left, same state
    Upsert.compact(spark, s"$base/log", Seq("key"))
    assert(spark.read.parquet(s"$base/log").select("__seq").distinct().count() == 1)
    assert(latest() === expected)
  }

  test("upsert compaction merges into the newest version with data, not a crashed file-less one") {
    import graft.sources.Upsert
    val log = s"${tempDir("upsert_crash")}/log"
    Upsert.appendVersion(Seq((1L, "new", 10.0), (2L, "new", 20.0)).toDF("key", "status", "amount"), log, 0L)
    Upsert.appendVersion(Seq((1L, "paid", 11.0)).toDF("key", "status", "amount"), log, 1L)
    // a write that died before any data file landed
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$log/__seq=2"))

    def latest() = Upsert.readLatest(spark, log, Seq("key"))
      .as[(Long, String, Double)].collect().toSet
    val before = latest()
    assert(before === Set((1L, "paid", 11.0), (2L, "new", 20.0)))
    Upsert.compact(spark, log, Seq("key"))
    assert(latest() === before)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$log/__seq=1")).exists(_.getPath.getName.endsWith(".parquet")))

    // replaying the crashed seq adds its batch and keeps the merged state
    Upsert.appendVersion(Seq((3L, "new", 30.0)).toDF("key", "status", "amount"), log, 2L)
    assert(latest() === before + ((3L, "new", 30.0)))
  }

  test("DataPoint ingest flattens into the events row shape") {
    val pts = Seq(
      Ingest.DataPoint("events", Timestamp.valueOf("2024-01-01 00:00:01"),
        Map("user_id" -> "7", "event_type" -> "click"), Map("event_id" -> 1.0, "value" -> 3.5)),
      Ingest.DataPoint("other_table", Timestamp.valueOf("2024-01-01 00:00:02"), Map(), Map())
    )
    val df = Ingest.eventsFromDataPoints(spark, pts)
    val r = df.as[(Long, Timestamp, Long, String, Double)].collect().toSeq
    assert(r == Seq((1L, Timestamp.valueOf("2024-01-01 00:00:01"), 7L, "click", 3.5)))
  }

  test("streaming funnel matches the batch operator for quiesced users, out-of-order safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FEv
    val steps = Seq("view", "click", "purchase")
    // user 20 completes; user 21's click arrives in an EARLIER batch
    // than the view that qualifies it (out-of-order across batches) —
    // incremental anchor state would miss it, the buffered replay not
    val batch1 = Seq(
      FEv(20L, Timestamp.valueOf("2024-01-01 00:00:00"), "view", 1L),
      FEv(20L, Timestamp.valueOf("2024-01-01 00:01:00"), "click", 2L),
      FEv(21L, Timestamp.valueOf("2024-01-01 00:05:00"), "click", 3L))
    val batch2 = Seq(
      FEv(20L, Timestamp.valueOf("2024-01-01 00:02:00"), "purchase", 4L),
      FEv(21L, Timestamp.valueOf("2024-01-01 00:03:00"), "view", 5L))
    val stream = MemoryStream[FEv]
    val q = StreamingFunnel
      // the watermark IS the out-of-order admission window: batch2's
      // events are earlier than batch1's maximum, so a zero watermark
      // would drop them before the state ever saw them
      .streaming(spark, stream.toDS(), steps, inactivityMinutes = 30, watermark = "1 hour")
      .writeStream.format("memory").queryName("funnel_out").outputMode("append").start()
    stream.addData(batch1: _*); q.processAllAvailable()
    stream.addData(batch2: _*); q.processAllAvailable()
    // advance the watermark far past every user's inactivity horizon
    stream.addData(FEv(99L, Timestamp.valueOf("2024-01-03 00:00:00"), "view", 6L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_out")
      .filter($"user_id" =!= 99L)
      .orderBy("user_id")
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp], Int)]
      .collect().toSeq
    val batchRows = graft.operators.Funnel
      .funnel((batch1 ++ batch2).toDF("user_id", "ts", "event_type", "event_id"),
        "user_id", "ts", "event_type", "event_id", steps)
      .orderBy("user_id")
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp], Int)]
      .collect().toSeq
    assert(streamed == batchRows)
    assert(streamed.map(r => r._1 -> r._5).toMap == Map(20L -> 3, 21L -> 2),
      "user 21's out-of-order view must requalify the later click")
  }

  test("streaming retention matches the batch matrix under out-of-order anchors") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.REv
    def d(day: Int, h: Int = 0) = Timestamp.valueOf(f"2024-01-${day + 1}%02d $h%02d:00:00")
    // user 10: activity lands first, the anchor arrives LATE and
    // EARLIER (day 0) than an interim anchor (day 8) — t0, the cohort,
    // and every period number must all re-derive from the true minimum
    val batch1 = Seq(
      REv(10L, d(10), "click"), REv(10L, d(8), "signup"),
      REv(11L, d(2), "click"), // never anchors: must emit nothing
      REv(12L, d(1), "signup"), REv(12L, d(16), "click"))
    val batch2 = Seq(REv(10L, d(0), "signup")) // late, earlier anchor
    val stream = MemoryStream[REv]
    // the watermark is the documented admission window: it must cover
    // the late anchor's lag (10 days here) or the stateful operator
    // drops it before it can revise t0
    val q = StreamingRetention.streaming(
      spark, stream.toDS(), anchorType = "signup", inactivityMinutes = 30,
      watermark = "30 days")
      .writeStream.format("memory").queryName("ret_out").outputMode("append").start()
    stream.addData(batch1: _*)
    q.processAllAvailable()
    stream.addData(batch2: _*)
    q.processAllAvailable()
    // advance the watermark far past every user's inactivity horizon
    stream.addData(REv(99L, Timestamp.valueOf("2024-03-01 00:00:00"), "click"))
    q.processAllAvailable()
    q.stop()

    val emitted = spark.table("ret_out").filter($"user_id" =!= 99L)
    // user 10: t0 = day 0, periods {0 (signup day 0), 1 (day 8 interim
    // anchor is just activity), 1 (day 10)} -> {0, 1}; user 12: {0, 2}
    val perUser = emitted.as[(Long, Timestamp, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(perUser == Map(10L -> Set(0, 1), 12L -> Set(0, 2)), s"got $perUser")
    assert(emitted.filter($"user_id" === 10L).select("t0").distinct().as[Timestamp]
      .head() == d(0), "the late earlier anchor must win t0")

    // the rolled matrix equals the batch operator over the same events
    val allEvents = (batch1 ++ batch2).map(e => (e.user_id, e.ts, e.event_type))
      .toDF("user_id", "ts", "event_type")
    val streamedMatrix = StreamingRetention.matrix(emitted.toDF())
      .orderBy("cohort", "period_n")
      .as[(Timestamp, Int, Long, Long, Double)].collect().toSeq
    val batchMatrix = graft.operators.Funnel
      .retention(allEvents, "user_id", "ts", "event_type", anchorType = "signup")
      .orderBy("cohort", "period_n")
      .as[(Timestamp, Int, Long, Long, Double)].collect().toSeq
    assert(streamedMatrix == batchMatrix, s"streamed $streamedMatrix != batch $batchMatrix")
    assert(batchMatrix.nonEmpty)
  }

  test("streaming vector admission grows the batch-layout IVF index; replay and folding converge") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Ann
    import graft.streaming.StreamingVectorAdmit
    val base = tempDir("svecadmit")
    val idx = s"$base/index"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus0 = emb.filter(col("vec_id") % 4 === 0)
    Ann.buildIvfIndex(spark, corpus0, idx, numCells = 16)

    // two micro-batches through the real stream: shards land in the
    // BATCH layout and exhaustive search equals brute force over all
    val b1 = emb.filter(col("vec_id") % 4 === 1)
    val b2 = emb.filter(col("vec_id") % 4 === 2)
    val stream = MemoryStream[(Long, Array[Float])]
    // driftRetrainFraction = 2.0 disables the trigger for the wiring
    // phase (this testdata's odd-id vectors genuinely drift vs an
    // even-id-trained quantizer — the self-heal is exercised
    // deliberately below, not as a side effect here)
    val q = StreamingVectorAdmit.run(
      stream.toDF().toDF("vec_id", "embedding"), idx, checkpoint = s"$base/ckpt",
      driftRetrainFraction = 2.0)
    stream.addData(b1.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq: _*)
    q.processAllAvailable()
    stream.addData(b2.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val shardNames = Ann.readableVecShardDirs(spark, idx).map(_.getName).toSet
    assert(shardNames == Set("shard=stream_0", "shard=stream_1"), shardNames.mkString(","))
    val served = corpus0.unionByName(b1).unionByName(b2)
    val queries = served.filter(col("vec_id") < 8)
    def exhaustive() = Ann.searchIvfIndex(spark, idx, queries, k = 5, probes = 16)
      .orderBy("query_id", "rank").collect().toSeq
    def bruteOf(c: org.apache.spark.sql.DataFrame) = Ann.bruteForceTopK(c, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive() == bruteOf(served),
      "stream-admitted shards must serve exactly like batch-admitted ones")

    // plain replay converges (shard dir overwrite)
    assert(!StreamingVectorAdmit.admitBatch(b2, idx, 1L, driftRetrainFraction = 2.0))
    assert(spark.read.parquet(s"$idx/assignments_delta").count() == b1.count() + b2.count())
    assert(exhaustive() == bruteOf(served))

    // folding + replay: an external promotion folds the shards into
    // the base; a replayed batch must NOT re-append (its ids are base
    // rows now) — the id-probe guard, not the shard-dir overwrite
    Ann.promoteIvfDelta(spark, idx)
    assert(!StreamingVectorAdmit.admitBatch(b2, idx, 1L, driftRetrainFraction = 2.0))
    assert(Ann.readableVecShardDirs(spark, idx).isEmpty,
      "a folded batch's replay must not re-append its shard")
    assert(exhaustive() == bruteOf(served))

    // drift self-heal: a shifted batch trips the trigger, the index
    // rebuilds from its own rows (delta folded, new quantizer), and
    // the shifted batch itself is admitted and searchable
    val shifted = emb.filter(col("vec_id") % 4 === 3)
      .select(col("vec_id"), transform(col("embedding"), x => x + lit(25.0f)).as("embedding"))
    assert(StreamingVectorAdmit.admitBatch(shifted, idx, 2L, driftRetrainFraction = 0.5),
      "the shifted batch must trip the drift trigger")
    assert(spark.read.parquet(s"$idx/assignments").count() == served.count() + shifted.count(),
      "self-heal must fold base, prior delta, AND the triggering batch into the rebuilt index")
    assert(Ann.readableVecShardDirs(spark, idx).isEmpty)
    assert(!new java.io.File(s"$idx/rebuild_src").exists, "the stage must be cleaned up")
    val servedAll = served.unionByName(shifted)
    assert(Ann.searchIvfIndex(spark, idx, queries, k = 5, probes = 16)
      .orderBy("query_id", "rank").collect().toSeq == bruteOf(servedAll))
    // replay of the healing batch converges: whether or not the drift
    // probe re-trips against the new quantizer, the id-probe guard
    // skips the re-append and the index state is unchanged
    StreamingVectorAdmit.admitBatch(shifted, idx, 2L, driftRetrainFraction = 0.5)
    assert(Ann.readableVecShardDirs(spark, idx).isEmpty,
      "a healed batch's replay must never re-append its rows")
    assert(spark.read.parquet(s"$idx/assignments").count() == served.count() + shifted.count())
    assert(Ann.searchIvfIndex(spark, idx, queries, k = 5, probes = 16)
      .orderBy("query_id", "rank").collect().toSeq == bruteOf(servedAll))
  }

  test("vector-admission novelty probe is sidecar-sized: clean batches read no index data") {
    import graft.operators.Ann
    import graft.streaming.StreamingVectorAdmit
    val base = tempDir("svecadmit_bloom")
    val idx = s"$base/index"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus0 = emb.filter(col("vec_id") % 4 === 0)
    Ann.buildIvfIndex(spark, corpus0, idx, numCells = 16)
    assert(Ann.readIdBloom(spark, s"$idx/assignments").isDefined,
      "the build must leave an id sidecar on the base")

    // 1. a batch whose ids all MISS the sidecar → sidecar-clean: the
    // novel frame is the batch itself — its plan references NO index
    // dir (zero base/shard reads; Blooms have no false negatives, so
    // the verdict is exact). The ids are selected against the actual
    // sidecar (3% fpp means a blind batch usually carries a false
    // positive or two — those route to the verified path, step 3):
    // this step pins the contract "missing ids never touch the index".
    val bloom0 = Ann.readIdBloom(spark, s"$idx/assignments").get
    val missIds = emb.filter(col("vec_id") % 4 === 1).select(col("vec_id"))
      .collect().map(_.getLong(0)).filterNot(bloom0.mightContainLong)
    assert(missIds.nonEmpty, "every candidate id false-positived — sidecar is mis-sized")
    val b1 = emb.filter(col("vec_id").isInCollection(missIds.toIndexedSeq))
    val (novel1, mode1) = StreamingVectorAdmit.resolveNovel(b1, idx, "shard=stream_0")
    assert(mode1 == "sidecar-clean", s"expected sidecar-clean, got $mode1")
    assert(!novel1.queryExecution.optimizedPlan.toString.contains(idx),
      "a clean batch's novelty plan must not touch the index")
    assert(novel1.count() == b1.count())
    Ann.appendToIvfIndex(novel1, idx, "stream_0")
    assert(Ann.readIdBloom(spark, s"$idx/assignments_delta/shard=stream_0").isDefined,
      "admission must leave an id sidecar on its shard")

    // 2. replay: own shard (dir AND sidecar) excluded → still clean
    val (novelR, modeR) = StreamingVectorAdmit.resolveNovel(b1, idx, "shard=stream_0")
    assert(modeR == "sidecar-clean", s"a replayed unfolded batch must stay clean, got $modeR")
    assert(novelR.count() == b1.count())

    // 3. mixed batch → sidecar-verified: only the maybe-held ids touch
    // the id columns, and a small survivor set rides as a pushed-down
    // In/EqualTo filter (row-group pruning)
    val b2 = corpus0.limit(1).unionByName(emb.filter(col("vec_id") % 4 === 2))
    val (novel2, mode2) = StreamingVectorAdmit.resolveNovel(b2, idx, "shard=stream_1")
    assert(mode2 == "sidecar-verified", s"expected sidecar-verified, got $mode2")
    assert(novel2.count() == emb.filter(col("vec_id") % 4 === 2).count(),
      "exactly the novel rows of a mixed batch survive the sidecar path")
    val planStr = novel2.queryExecution.executedPlan.toString
    assert(raw"(In|EqualTo)\(item_id".r.findFirstIn(planStr).isDefined,
      s"the verify scan must push the maybe-id filter down:\n$planStr")

    // 4. missing sidecar (pre-sidecar index / crashed sidecar write) →
    // exact full-scan fallback
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/assignments/${Ann.IdBloomFile}"), false)
    val (novel4, mode4) = StreamingVectorAdmit.resolveNovel(b2, idx, "shard=stream_1")
    assert(mode4 == "full-scan", s"expected full-scan, got $mode4")
    assert(novel4.count() == novel2.count(), "the fallback must resolve the same novelty")

    // 5. a SATURATED sidecar (false positives on nearly every id) must
    // still be exact: the verify pass, not the Bloom, decides
    val tiny = org.apache.spark.util.sketch.BloomFilter.create(1, 0.03)
    corpus0.select(col("vec_id")).collect().foreach(r => tiny.putLong(r.getLong(0)))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$idx/assignments/${Ann.IdBloomFile}"), true)
    try tiny.writeTo(out) finally out.close()
    val b3 = emb.filter(col("vec_id") % 4 === 3)
    val (novel5, mode5) = StreamingVectorAdmit.resolveNovel(b3, idx, "shard=stream_2")
    assert(mode5 == "sidecar-verified", s"a saturated sidecar must route to verify, got $mode5")
    assert(novel5.count() == b3.count(),
      "Bloom false positives must never drop genuinely-new vectors")
  }

  test("streaming vector admission: per-id novelty on mixed batches; crash-marker recovery") {
    import graft.operators.Ann
    import graft.streaming.StreamingVectorAdmit
    val base = tempDir("svecadmit_edge")
    val idx = s"$base/index"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus0 = emb.filter(col("vec_id") % 4 === 0)
    val b1 = emb.filter(col("vec_id") % 4 === 1)
    val b2 = emb.filter(col("vec_id") % 4 === 2)
    val b3 = emb.filter(col("vec_id") % 4 === 3)
    val queries = emb.filter(col("vec_id") < 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Ann.buildIvfIndex(spark, corpus0, idx, numCells = 16)

    // a MIXED batch (one id already in the base + genuinely new ids)
    // must admit exactly its new rows — an any-overlap skip would
    // silently drop the new vectors
    StreamingVectorAdmit.admitBatch(
      corpus0.limit(1).unionByName(b1), idx, 0L, driftRetrainFraction = 2.0)
    assert(spark.read.parquet(s"$idx/assignments_delta").count() == b1.count(),
      "exactly the novel rows of a mixed batch are admitted")
    def exhaustive() = Ann.searchIvfIndex(spark, idx, queries, k = 5, probes = 16)
      .orderBy("query_id", "rank").collect().toSeq
    def bruteOf(c: org.apache.spark.sql.DataFrame) = Ann.bruteForceTopK(c, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive() == bruteOf(corpus0.unionByName(b1)),
      "the held id must rank once, the novel rows must rank — exactly")

    // crashed-rebuild recovery: a complete stage with the completion
    // marker (stats) MISSING means the rebuild died mid-write — the
    // next batch resumes it before anything else
    corpus0.unionByName(b1).unionByName(b2)
      .write.mode("overwrite").parquet(s"$idx/rebuild_src")
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/stats"), true)
    StreamingVectorAdmit.admitBatch(b2, idx, 1L, driftRetrainFraction = 2.0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/stats/_SUCCESS")),
      "the resumed rebuild must complete the index")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/rebuild_src")))
    assert(spark.read.parquet(s"$idx/assignments").count() ==
      corpus0.count() + b1.count() + b2.count(),
      "the resume must rebuild from the stage (which already held b2)")
    assert(Ann.readableVecShardDirs(spark, idx).isEmpty,
      "b2's post-resume admission must be a no-op (its ids are base rows)")
    assert(exhaustive() == bruteOf(corpus0.unionByName(b1).unionByName(b2)))

    // stale-stage cleanup: a leftover stage with the marker PRESENT is
    // a completed rebuild's crashed cleanup — deleted, never resurrected
    corpus0.write.mode("overwrite").parquet(s"$idx/rebuild_src")
    StreamingVectorAdmit.admitBatch(b3, idx, 2L, driftRetrainFraction = 2.0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/rebuild_src")),
      "a stale stage must be deleted at the next batch")
    assert(spark.read.parquet(s"$idx/assignments").count() ==
      corpus0.count() + b1.count() + b2.count(),
      "the stale stage must NOT shrink the base back to its snapshot")
    assert(exhaustive() == bruteOf(emb), "b3 admitted, nothing resurrected")
  }

  test("streaming retention: a user resuming after the horizon begins a new journey") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.REv
    val stream = MemoryStream[REv]
    val q = StreamingRetention.streaming(
      spark, stream.toDS(), anchorType = "signup", inactivityMinutes = 30,
      watermark = "10 days")
      .writeStream.format("memory").queryName("ret_reopen").outputMode("append").start()
    // journey 1: anchor + activity, then quiesce past the horizon
    stream.addData(
      REv(50L, Timestamp.valueOf("2024-01-01 00:00:00"), "signup"),
      REv(50L, Timestamp.valueOf("2024-01-09 00:00:00"), "click"))
    q.processAllAvailable()
    stream.addData(REv(99L, Timestamp.valueOf("2024-02-01 00:00:00"), "click"))
    q.processAllAvailable()
    // journey 2: the SAME user re-anchors months later — state was
    // emitted and removed, so this is deliberately a NEW journey (the
    // documented horizon semantic: resurrection is a re-acquisition)
    stream.addData(
      REv(50L, Timestamp.valueOf("2024-03-04 00:00:00"), "signup"),
      REv(50L, Timestamp.valueOf("2024-03-05 00:00:00"), "click"))
    q.processAllAvailable()
    stream.addData(REv(99L, Timestamp.valueOf("2024-05-01 00:00:00"), "click"))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("ret_reopen").filter($"user_id" === 50L)
      .as[(Long, Timestamp, Int)].collect().toSeq
    val byT0 = emitted.groupBy(_._2).view.mapValues(_.map(_._3).toSet).toMap
    assert(byT0 == Map(
      Timestamp.valueOf("2024-01-01 00:00:00") -> Set(0, 1),
      Timestamp.valueOf("2024-03-04 00:00:00") -> Set(0)),
      s"two journeys, each with its own t0 and periods: $byT0")
    // the matrix consequently cohorts the user once per journey — the
    // bounded-state price the scaladoc documents
    val m = StreamingRetention.matrix(spark.table("ret_reopen").filter($"user_id" === 50L).toDF())
    assert(m.select("cohort").distinct().count() == 2)
  }

  test("streaming anomaly: watermarked daily cells score exactly like the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAnomaly
    import graft.operators.Funnel
    val base = tempDir("sanomaly")
    val stream = MemoryStream[(Timestamp, String)]
    val events = stream.toDS().toDF("ts", "event_type")
    val q = StreamingAnomaly.run(
      events, "ts", "event_type", s"$base/sink", s"$base/ck", watermark = "3 days")
    def d(day: Int, h: Int = 12) = Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // type a: 3/day, day 10 spikes to 9, day 5 is an OUTAGE (no events
    // at all — the cell the stream can never emit; densify must score
    // it); type b: steady 1/day
    def evs(day: Int): Seq[(Timestamp, String)] =
      (if (day == 5) Nil else Seq.fill(if (day == 10) 9 else 3)((d(day), "a"))) :+ ((d(day), "b"))
    // out-of-order across batches: day 3 arrives a batch late, still
    // inside the 3-day watermark (its window is not yet finalized)
    stream.addData(Seq(1, 2, 4, 5, 6).flatMap(evs))
    q.processAllAvailable()
    stream.addData(evs(3) ++ Seq(7, 8, 9).flatMap(evs))
    q.processAllAvailable()
    // sentinel advances the watermark past day 12 so every real day
    // finalizes; its own window stays open and never reaches the sink
    stream.addData(Seq(10, 11, 12).flatMap(evs) :+ ((d(20), "sentinel")))
    q.processAllAvailable()
    q.stop()
    val streamScored = StreamingAnomaly.score(spark, s"$base/sink")
      .orderBy("event_type", "day").collect().toSeq
    // the batch form over the SAME events (sans the open sentinel day)
    val batchDaily = (1 to 12).flatMap(evs).toDF("ts", "event_type")
      .groupBy(graft.functions.F.truncDay(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val batchScored = Funnel.anomalies(
      Funnel.densifyDaily(batchDaily, "event_type", "day", "cnt"),
      "event_type", "day", "cnt")
      .orderBy("event_type", "day").collect().toSeq
    assert(streamScored == batchScored, "stream-scored cells must equal the batch operator exactly")
    assert(streamScored.nonEmpty)
    val flagged = streamScored.filter(_.getAs[Boolean]("is_anomaly"))
      .map(r => (r.getAs[String]("event_type"), r.getTimestamp(0))).toSet
    assert(flagged.contains(("a", d(5, 0))), "the outage day must flag")
    assert(flagged.contains(("a", d(10, 0))), "the spike day must flag")
    assert(!streamScored.exists(_.getAs[String]("event_type") == "sentinel"),
      "the open sentinel window must never reach the sink")
  }

  test("DataPoint ingest survives malformed numeric dims (metric fallback, not a crash)") {
    val pts = Seq(
      Ingest.DataPoint("events", Timestamp.valueOf("2024-01-01 00:00:01"),
        Map("event_id" -> "not-a-number", "user_id" -> "x7", "event_type" -> "click"),
        Map("event_id" -> 42.0, "value" -> 1.0)))
    val r = Ingest.eventsFromDataPoints(spark, pts)
      .as[(Long, Timestamp, Long, String, Double)].collect().toSeq
    // event_id falls through to the metric map; user_id to the 0 default
    assert(r == Seq((42L, Timestamp.valueOf("2024-01-01 00:00:01"), 0L, "click", 1.0)))
  }

  // ───────────── Spark jobs per streaming-dedup trigger ─────────────

  // Pins the Spark jobs of one trigger of each ingest sink: a bounded
  // keep-best micro-batch (driver-resolved clusters), one
  // `StreamingDedup.run` trigger that probes an existing index, one
  // vector-admission trigger with re-sent ids and one UPSERT statement.
  // A sink may get cheaper, never dearer. The run, vector and UPSERT
  // bounds are the driver-path counts (11, 15 and 6 jobs before it).
  // Keep-best loads its cached decision frame before its overlapped
  // sinks plan, so its count repeats exactly (it raced between 25 and 28
  // before).
  private val pinText = "the quick brown fox jumps over the lazy dog near the river bank today"

  private def jobsIn(body: => Unit): (Long, Seq[String]) = {
    val c = new JobCounter(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    try c.jobsAndLabels(body) finally spark.sparkContext.removeSparkListener(c)
  }

  private def tally(labels: Seq[String]): String =
    labels.map(_.replace('\n', ' ')).groupBy(identity).map { case (l, n) => s"$l×${n.size}" }.mkString(", ")

  test("one bounded keep-best trigger runs no more jobs than before the resolver moved") {
    val base = tempDir("keepbest_jobs")
    def trigger(id: Long, rows: (Long, String, Double)*): Unit =
      graft.streaming.StreamingDedup.keepBestBatch(rows.toDF("doc_id", "text", "q"), id, col("q"),
        s"$base/index", s"$base/decisions")
    trigger(0L, (10L, pinText, 0.4), (11L, pinText + " indeed", 0.6),
      (12L, "completely different text about gardens and walls and towers", 0.5))
    trigger(1L, (20L, pinText + " again", 0.9))
    // probes an index with tombstones; one in-batch cluster, one loser
    // to the indexed rep, one fresh doc
    val (jobs, labels) = jobsIn {
      trigger(2L, (30L, pinText + " truly", 0.7),
        (31L, "an unrelated sentence about lighthouses and their keepers at night", 0.2),
        (32L, "an unrelated sentence about lighthouses and their keepers at night too", 0.3),
        (33L, "a fresh document on tide tables and harbour charts", 0.1))
    }
    info(s"keep-best trigger jobs: $jobs, labels: ${tally(labels)}")
    assert(jobs <= KeepBestTriggerJobs, s"keep-best trigger ran $jobs jobs, pinned ≤ $KeepBestTriggerJobs")
  }

  test("one StreamingDedup.run trigger over an existing index keeps its job count and labels") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("sdedup_jobs")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.run(spark, stream.toDF().toDF("doc_id", "text"),
      indexPath = s"$base/index", matchesPath = s"$base/matches",
      threshold = 0.5, checkpoint = s"$base/ckpt")
    try {
      stream.addData((1L, pinText), (2L, "completely different content about catalyst optimizer internals"))
      q.processAllAvailable()
      val (jobs, labels) = jobsIn {
        stream.addData((3L, pinText + " again"), (4L, "yet another unrelated piece on columnar storage"))
        q.processAllAvailable()
      }
      info(s"run trigger jobs: $jobs, labels: ${tally(labels)}")
      assert(jobs <= RunTriggerJobs, s"run trigger ran $jobs jobs, pinned ≤ $RunTriggerJobs")
      assert(labels.filter(_.startsWith("streamdedup:")).toSet == Set("streamdedup:batch-count",
        "streamdedup:batch-collect", "streamdedup:matches-write", "streamdedup:sigs-write"))
    } finally q.stop()
  }

  test("one streaming vector-admission trigger with re-sent ids keeps its job count") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Ann
    val base = tempDir("vecadmit_jobs")
    val idx = s"$base/index"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    Ann.buildIvfIndex(spark, emb.filter(_._1 % 4 == 0).toSeq.toDF("vec_id", "embedding"), idx, numCells = 16)
    val stream = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingVectorAdmit.run(stream.toDF().toDF("vec_id", "embedding"), idx,
      s"$base/ckpt", driftRetrainFraction = 2.0)
    try {
      stream.addData(emb.filter(_._1 % 4 == 1).toSeq: _*)
      q.processAllAvailable()
      // re-sent ids: three base vectors ride with novel ones, so the
      // sidecars report maybe-held ids and the bounded verify runs
      val (jobs, labels) = jobsIn {
        stream.addData((emb.filter(_._1 % 4 == 0).take(3) ++ emb.filter(_._1 % 4 == 2)).toSeq: _*)
        q.processAllAvailable()
      }
      info(s"vector admission trigger jobs: $jobs, labels: ${tally(labels)}")
      assert(jobs <= VectorAdmitTriggerJobs, s"vector admission ran $jobs jobs, pinned ≤ $VectorAdmitTriggerJobs")
    } finally q.stop()
    val held = spark.read.parquet(s"$idx/assignments_delta").select("item_id").as[Long].collect().sorted.toSeq
    assert(held == emb.map(_._1).filter(id => id % 4 == 1 || id % 4 == 2).sorted.toSeq,
      "exactly the novel ids are admitted")
  }

  test("one UPSERT INTO statement keeps its job count") {
    spark // force base session init first
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    val gt = graft.schema.GTable("pin_upsert", timeColumn = "ts",
      dimensions = Seq(graft.schema.GDimension("dim", org.apache.spark.sql.types.StringType)),
      metrics = Seq(graft.schema.GMetric("m", org.apache.spark.sql.types.DoubleType)))
    try {
      graft.sql.UpsertTables.register(s2, gt, tempDir("upsert_jobs") + "/log")
      def put(day: Int): Unit = s2.sql("UPSERT INTO pin_upsert (ts, dim, m) VALUES " +
        s"(TIMESTAMP '2024-01-0$day 00:00:00', 'a', 1.0), (TIMESTAMP '2024-01-0$day 00:00:00', 'b', 2.0), " +
        s"(TIMESTAMP '2024-01-0$day 00:00:00', 'a', 3.0)").collect()
      put(1)
      val (jobs, labels) = jobsIn(put(2))
      info(s"UPSERT jobs: $jobs, labels: ${tally(labels)}")
      assert(jobs <= UpsertStatementJobs, s"UPSERT ran $jobs jobs, pinned ≤ $UpsertStatementJobs")
      assert(s2.sql("SELECT dim, m FROM pin_upsert WHERE ts = TIMESTAMP '2024-01-02 00:00:00' ORDER BY dim")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("a", 3.0), ("b", 2.0)))
    } finally {
      graft.sql.UpsertTables.unregister("pin_upsert")
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }

  // ───────────── driver path vs distributed path ─────────────

  // Each bounded sink has a driver path below its broadcast bound and
  // the distributed path past it; `localMax = 0` forces the latter.

  test("StreamingDedup.run: the driver and distributed paths write identical matches and index rows") {
    def trigger(base: String, localMax: Long)(id: Long, rows: (Long, String)*): Unit =
      graft.streaming.StreamingDedup.runBatch(rows.toDF("doc_id", "text"), id, s"$base/index",
        s"$base/matches", threshold = 0.5, localMax = localMax)
    val lighthouse = "an unrelated sentence about lighthouses and their keepers at night"
    def side(localMax: Long): (Seq[String], Seq[String]) = {
      val base = tempDir(s"sdedup_sides_$localMax")
      def t(id: Long, rows: (Long, String)*): Unit = trigger(base, localMax)(id, rows: _*)
      t(0L, (10L, pinText), (11L, "completely different text about gardens and walls and towers"),
        (12L, pinText + " indeed"))
      // a smaller id matching the index, an in-batch pair, a re-sent
      // id (its index copy must not match), a duplicated id
      val b1 = Seq((5L, pinText + " again"), (20L, lighthouse), (21L, lighthouse + " too"),
        (10L, pinText), (22L, lighthouse + " again"), (22L, lighthouse + " once more"))
      t(1L, b1: _*)
      t(2L, (30L, "a fresh document on tide tables and harbour charts"), (6L, pinText + " truly"))
      t(1L, b1: _*) // replay
      val matches = spark.read.parquet(s"$base/matches").collect().map(_.toString).sorted.toSeq
      val index = spark.read.parquet(s"$base/index/sigs")
        .select(col("shard"), col("id"), col("sig")).collect().map(_.toString).sorted.toSeq
      (matches, index)
    }
    val (local, distributed) = (side(Long.MaxValue), side(0L))
    assert(local == distributed)
    assert(local._1.exists(_.startsWith("[5,12,")) && local._1.exists(_.startsWith("[21,20,")),
      s"index and in-batch pairs both found: ${local._1}")
  }

  test("StreamingDedup.runEmbeddings: the driver and distributed paths write identical matches and index rows") {
    val b0 = Seq((1L, Array(1.0f, 0.05f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.05f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.05f)), (4L, Array(0.05f, 0.0f, 0.0f, 1.0f)),
      (7L, Array(0.7f, 0.7f, 0.0f, 0.0f)), (8L, Array(0.99f, 0.06f, 0.01f, 0.0f)))
    // a null vector probes nothing on either side; first in the first
    // batch, it must not hide the stream's vector width
    val b0n = (9L, null: Array[Float]) +: b0
    val b1 = Seq((0L, Array(0.99f, 0.04f, 0.01f, 0.0f)), (10L, Array(0.0f, 0.0f, 1.0f, 0.06f)),
      (11L, Array(0.0f, 0.01f, 0.99f, 0.05f)), (2L, Array(0.0f, 1.0f, 0.05f, 0.0f)),
      (13L, null: Array[Float]), (12L, Array(0.69f, 0.71f, 0.01f, 0.0f)))
    def side(threshold: Double, localMax: Long): (Seq[String], Seq[String]) = {
      val base = tempDir(s"ssem_sides_$localMax")
      val batches = graft.streaming.StreamingDedup.embeddingsBatches(s"$base/index", s"$base/matches",
        threshold = threshold, ivfCells = 4, localMax = localMax)
      batches(b0n.toDF("vec_id", "embedding"), 0L)
      batches(b1.toDF("vec_id", "embedding"), 1L)
      def rows(path: String) = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
      (rows(s"$base/matches"), rows(s"$base/index"))
    }
    // 0.9: sign-bit bands; 0.5: IVF cells
    for (t <- Seq(0.9, 0.5)) {
      val local = side(t, Long.MaxValue)
      assert(local == side(t, 0L), s"threshold $t")
      assert(local._1.nonEmpty, s"threshold $t finds matches")
    }
  }

  test("vector admission: the driver and distributed paths admit the same ids with the same Blooms") {
    import graft.operators.Ann
    import graft.streaming.StreamingVectorAdmit
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val corpus0 = emb.filter(col("vec_id") % 4 === 0)
    val b1 = emb.filter(col("vec_id") % 4 === 1)
    val b2 = corpus0.limit(3).unionByName(emb.filter(col("vec_id") % 4 === 2))
    // a shard's sidecar bytes: the driver path builds them from driver-held
    // ids, the distributed path from the shard's id column
    def bloomBytes(dir: String): Option[Seq[Byte]] = Ann.readIdBloom(spark, dir).map { bf =>
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray.toSeq
    }
    def side(localMax: Long): (String, Seq[(String, Seq[Long], Option[Seq[Byte]])]) = {
      val idx = tempDir(s"svecadmit_sides_$localMax") + "/index"
      Ann.buildIvfIndex(spark, corpus0, idx, numCells = 16)
      def admit(b: org.apache.spark.sql.DataFrame, id: Long): Boolean =
        StreamingVectorAdmit.admitBatch(b, idx, id, driftRetrainFraction = 2.0, localMax = localMax)
      admit(b1, 0L)
      admit(b2, 1L)
      admit(b2, 1L) // replay
      val shards = Ann.readableVecShardDirs(spark, idx).map { d =>
        (d.getName, spark.read.parquet(d.toString).select("item_id").as[Long].collect().sorted.toSeq,
          bloomBytes(d.toString))
      }.sortBy(_._1).toSeq
      (idx, shards)
    }
    val (idx, local) = side(Long.MaxValue)
    assert(local == side(0L)._2)
    assert(local.map(_._2.size) == Seq(b1.count(), b2.count() - 3L) && local.forall(_._3.isDefined))

    // the novelty resolvers agree on the path taken and the novel rows
    def bothResolve(b: org.apache.spark.sql.DataFrame, own: String, path: String): Unit = {
      val (novel, p) = StreamingVectorAdmit.resolveNovel(b, idx, own)
      val (novelLocal, pLocal) = StreamingVectorAdmit.resolveNovelLocal(spark, b.collect(), idx, own)
      assert(p == path && pLocal == path, s"$p / $pLocal, expected $path")
      assert(novelLocal.map(_.getLong(0)).sorted.toSeq == novel.select("vec_id").as[Long].collect().sorted.toSeq)
    }
    val blooms = (s"$idx/assignments" +: Ann.readableVecShardDirs(spark, idx).map(_.toString).toSeq)
      .flatMap(Ann.readIdBloom(spark, _))
    val miss = emb.filter(col("vec_id") % 4 === 3).select("vec_id").as[Long].collect()
      .filterNot(id => blooms.exists(_.mightContainLong(id)))
    bothResolve(emb.filter(col("vec_id").isInCollection(miss.toSeq)), "shard=stream_2", "sidecar-clean")
    bothResolve(b2, "shard=stream_2", "sidecar-verified")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/assignments/${Ann.IdBloomFile}"), false)
    bothResolve(b2, "shard=stream_2", "full-scan")
    // the driver-side drift fraction is the distributed one
    val shifted = emb.filter(col("vec_id") % 4 === 3)
      .select(col("vec_id"), transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    for (b <- Seq(b2, shifted))
      assert(Ann.ivfDriftFractionLocal(spark, idx, b.collect().map(_.getSeq[Float](1).toArray).toSeq) ==
        Ann.ivfDriftFraction(spark, idx, b))
  }

  /** Output columns of every `collect` that `body` runs. */
  private def collectedColumns(body: => Unit): Seq[Seq[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (f == "collect") seen.add(qe.analyzed.output.map(_.name))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once a marker collect lands,
      // every collect of `body` has
      val marker = Seq("__collected_marker")
      spark.range(1).toDF(marker.head).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), "the query listener did not drain")
      import scala.jdk.CollectionConverters._
      seen.asScala.toList.filterNot(_ == marker)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a batch one row past the driver-path bound is sized on its ids and collects no payload") {
    import graft.operators.Ann
    import graft.streaming.{StreamingDedup, StreamingVectorAdmit}
    import scala.jdk.CollectionConverters._
    val docs = Seq((1L, pinText), (2L, pinText + " again"), (3L, "completely different text about gardens"))
      .toDF("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val vecs = emb.filter(col("vec_id") % 4 === 1).limit(3).collect().toSeq
    val vecBatch = spark.createDataFrame(vecs.asJava, emb.schema)
    // three rows against bounds of 3 (driver path) and 2 (one row past):
    // both size on the ids, only the driver path collects the payload
    def sink(label: String, payload: Set[String], run: Long => Unit): Unit =
      for ((bound, driver) <- Seq(3L -> true, 2L -> false)) {
        val collected = collectedColumns(run(bound))
        assert(collected.exists(_.forall(!payload(_))), s"$label sizes on ids: $collected")
        assert(collected.exists(_.exists(payload)) == driver, s"$label at bound $bound collected $collected")
      }
    val base = tempDir("past_bound")
    sink("streamdedup", Set("sig", "text", "__keys"), bound =>
      StreamingDedup.runBatch(docs, 1L, s"$base/index_$bound", s"$base/matches_$bound", localMax = bound))
    sink("vecdedup", Set("vec", "embedding", "bits", "__keys"), bound =>
      StreamingDedup.embeddingsBatches(s"$base/vindex_$bound", s"$base/vmatches_$bound", threshold = 0.9,
        localMax = bound)(vecBatch, 1L))
    val idx = s"$base/ivf"
    Ann.buildIvfIndex(spark, emb.filter(col("vec_id") % 4 === 0), idx, numCells = 16)
    sink("vecadmit", Set("embedding"), bound =>
      StreamingVectorAdmit.admitBatch(vecBatch, idx, bound, driftRetrainFraction = 2.0, localMax = bound))
  }

  test("UPSERT keeps the last row per key on the driver exactly as the keep-last window did") {
    spark // force base session init first
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val gt = graft.schema.GTable("sides_upsert", timeColumn = "ts",
      dimensions = Seq(graft.schema.GDimension("dim", StringType), graft.schema.GDimension("x", DoubleType)),
      metrics = Seq(graft.schema.GMetric("m", DoubleType), graft.schema.GMetric("k", LongType)))
    val log = tempDir("upsert_sides") + "/log"
    // duplicate keys (the last wins), -0.0/0.0 and NaN in a key and in a
    // metric, NULL keys and metrics, an omitted metric (k), and column
    // names in another case than declared
    val cols = Seq("TS", "Dim", "X", "m")
    val values = Seq(
      "(TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0D, 1.0D)",
      "(TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0D, NULL)",
      "(TIMESTAMP '2024-01-01 00:00:00', 'b', -0.0D, -0.0D)",
      "(TIMESTAMP '2024-01-01 00:00:00', 'b', 0.0D, 0.0D)",
      "(TIMESTAMP '2024-01-01 00:00:00', 'c', 0.0D, -0.0D)",
      "(TIMESTAMP '2024-01-01 00:00:00', 'd', CAST('NaN' AS DOUBLE), 2.0D)",
      "(TIMESTAMP '2024-01-01 00:00:00', 'd', CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE))",
      "(TIMESTAMP '2024-01-01 00:00:00', NULL, 1.0D, 5.0D)",
      "(TIMESTAMP '2024-01-01 00:00:00', NULL, 1.0D, 6.0D)",
      "(TIMESTAMP '2024-01-02 00:00:00', 'a', 1.0D, 3.0D)").mkString(", ")
    def render(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    try {
      graft.sql.UpsertTables.register(s2, gt, log)
      val r = s2.sql(s"UPSERT INTO sides_upsert (${cols.mkString(", ")}) VALUES $values").head()
      // the keep-last window the statement ran before, over the same rows
      val declared = Map("ts" -> org.apache.spark.sql.types.TimestampType, "dim" -> StringType,
        "x" -> DoubleType, "m" -> DoubleType, "k" -> LongType)
      val named = s2.sql(s"SELECT * FROM VALUES $values").toDF("ts", "dim", "x", "m")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ts"), col("dim"), col("x"))
        .orderBy(col("__ord").desc)
      val expected = named.select(gt.columnNames.map(c =>
          (if (named.columns.contains(c)) col(c) else lit(null)).cast(declared(c)).as(c)): _*)
        .withColumn("__ord", monotonically_increasing_id())
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__ord", "__rn").collect()
      val written = s2.read.parquet(s"$log/__seq=0").select(gt.columnNames.map(col): _*).collect()
      assert(render(written) == render(expected))
      assert(r.getLong(1) == expected.length.toLong && expected.length == 6)
    } finally {
      graft.sql.UpsertTables.unregister("sides_upsert")
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }

  private val KeepBestTriggerJobs = 26L
  private val RunTriggerJobs = 5L
  private val VectorAdmitTriggerJobs = 4L
  private val UpsertStatementJobs = 1L
}

object StreamingSpec {
  // the twins' state classes before they shared EventBuffer.Buf
  case class SessionAcc(events: List[(Long, Double, Long)])
  case class FunnelAcc(events: List[(Long, String, Long)])
  case class RetAcc(events: List[(Long, Boolean)])
}
