package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/**
 * Plan audits: the scale contract from SURVEY.md §5 — filters reach the
 * parquet scan, projections prune columns, catalog joins broadcast.
 * These are the properties that decide whether a query survives 100 TB,
 * so they are asserted, not eyeballed.
 */
class PlanSpec extends SparkSpecBase {

  private def planOf(name: String, execute: Boolean = false): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (execute) df.collect() // AQE: codegen stages only appear in the final plan of THIS execution
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_range pushes time-range + dim filters into the parquet scan") {
    val p = planOf("q_filter_range")
    assert(p.contains("PushedFilters:"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("EqualTo(l_returnflag,R)"), p.take(2000))
  }

  test("the IVF gate subset plans as a bounded top-N, never a full sort") {
    // gateEmbeddings: the deterministic fixed-size 500-vector subset
    // must be TakeOrderedAndProject (per-partition top-N + driver merge
    // of N rows) — a global Sort+Limit here would re-introduce the
    // scale dependence the cap exists to remove
    val p = planOf("q_dedup_embed_ivf")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    val sortsBeforeLimit = "(?s)Sort.*GlobalLimit".r.findFirstIn(p)
    assert(!p.contains("GlobalLimit"), s"subset must not plan a global sort+limit:\n${p.take(3000)}")
    assert(sortsBeforeLimit.isEmpty)
  }

  test("q_str_funcs prunes to the referenced columns only") {
    val p = planOf("q_str_funcs")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_acctbal") && !p.contains("c_nationkey"), "scan must not read unused columns")
  }

  test("q_join_link uses broadcast joins for all three catalog joins") {
    val p = planOf("q_join_link")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts == 3, s"expected 3 broadcast joins, plan:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"), "catalog joins must not shuffle the fact side")
  }

  test("q_join_link_filtered pushes the link-derived dimension IN-set into the fact scan") {
    val p = planOf("q_join_link_filtered")
    assert(p.contains("PushedFilters: [In(l_suppkey"), s"link condition must reach the scan as In(l_suppkey,...):\n${p.take(3000)}")
  }

  test("whereLink: IN-set and semi-join routes agree; exclude complements include") {
    import graft.core.QueryBuilder
    import graft.schema.TestSchema
    val link = TestSchema.schema.links.find(_.linkName == "supplier_link").get
    def load(n: String) = spark.read.parquet(s"$sfDir/$n.parquet")
    def q(exclude: Boolean) = QueryBuilder(spark, TestSchema.schema, load, "lineitem")
      .whereLink(link, col("s_acctbal") > 4000.0, exclude)
      .groupBy(col("l_suppkey"))
      .select(count(lit(1)).as("cnt"))
      .build()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val inSet = rows(q(exclude = false))
    val exSet = rows(q(exclude = true))
    // include + exclude partition the fact table
    val total = load("lineitem").groupBy("l_suppkey").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(inSet.keySet.intersect(exSet.keySet).isEmpty)
    assert((inSet.keySet ++ exSet.keySet) === total.keySet)

    // force the semi/anti-join fallback: identical results, no IN pushdown
    spark.conf.set("spark.graft.link.maxInSetKeys", "1")
    try {
      val viaJoinIn = rows(q(exclude = false))
      val viaJoinEx = rows(q(exclude = true))
      assert(viaJoinIn === inSet && viaJoinEx === exSet)
      val p = q(exclude = false).queryExecution.executedPlan.toString
      assert(!p.contains("In(l_suppkey"), "fallback must not build a literal IN-set")
    } finally spark.conf.unset("spark.graft.link.maxInSetKeys")
  }

  test("q_agg_sum_min_max does partial (map-side) aggregation before the shuffle") {
    val p = planOf("q_agg_sum_min_max")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(2000))
    // one shuffle for the groupBy, one for the global orderBy — no more
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n${p.take(3000)}")
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    val p = planOf("q_agg_sum_min_max", execute = true)
    // codegen'd operators carry the "*(n)" stage marker in the final plan
    assert(p.contains("*(1)") && p.contains("*(2)"), p.take(2000))
  }

  test("q_bm25 broadcasts query terms + restricted df and ends in the heap top-k") {
    val p = planOf("q_bm25")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(3000))
    assert(p.contains("TopKPerKey"), "rank filter should rewrite to the bounded heap:\n" + p.take(3000))
    // the postings aggregate is map-side combined before its exchange
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q_pack_shards never materializes a single-partition global window") {
    val p = planOf("q_pack_shards")
    // the running sum distributes over value-derived buckets (hash exchange
    // on bk), with only the final presentation ORDER BY ranging
    assert(p.contains("hashpartitioning(bk"), p.take(3000))
    assert(!p.contains("SinglePartition"), "global running sum must stay distributed:\n" + p.take(3000))
  }

  test("q_stratified_sample runs each stratum through the bounded heap, not a sort") {
    val p = planOf("q_stratified_sample")
    assert(p.contains("TopKPerKey"), p.take(2000))
  }

  test("q_contamination broadcasts the eval gram set") {
    val p = planOf("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "corpus grams must not shuffle for the eval join")
  }

  test("IVF embedding-pair plan is cell-bucketed: no cartesian product anywhere") {
    // the whole point of the low-threshold IVF path is replacing the
    // all-pairs crossJoin — the physical plan must prove it
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.operators.Dedup.embeddingPairsIvf(emb, "vec_id", "embedding", threshold = 0.5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "IVF path must never degrade to an all-pairs join:\n" + p.take(3000))
    // and the forced dispatch (past the brute bound) takes the same shape
    val d2 = graft.operators.Dedup.embeddingPairs(emb, "vec_id", "embedding",
      threshold = 0.5, bruteBound = 0L)
    d2.collect()
    val p2 = d2.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"))
  }

  test("q_boilerplate shuffles the gram table exactly once (count window, no join-back)") {
    val p = planOf("q_boilerplate")
    // one exchange on (source, gram) for the window, one on doc_id for the
    // per-doc rollup, one range for ORDER BY — and no second gram shuffle
    // from an aggregate-then-join-back formulation
    val gramExchanges = "hashpartitioning\\(source[#0-9]*, gram".r.findAllIn(p).length
    assert(gramExchanges == 1, s"expected exactly one (source, gram) exchange, got $gramExchanges:\n${p.take(3000)}")
    assert(!p.contains("Join"), "boilerplate must not join the corpus back on itself:\n" + p.take(3000))
  }

  test("q_rollup_routed_avg answers entirely from the rollup") {
    val df = SparkEntry.queries("q_rollup_routed_avg")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("events_by_day_v2"), "avg quotient must read the rollup:\n" + p.take(3000))
    // with the rollup path masked, any remaining /events scan is the fact
    val scrubbed = p.replace("events_by_day_v2", "ROLLUP")
    assert(!scrubbed.contains("/events"), "fact layout must not be scanned:\n" + p.take(3000))
  }

  test("TsLayout time-range read prunes partitions") {
    val path = s"${tempDir("ts_layout")}/events"
    // one event every 7 hours through 2024: 12 monthly buckets
    val src = spark.range(0, 1255)
      .select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 25200L).as("ts"),
        (col("id") % 17).as("user_id"),
        concat(lit("t"), (col("id") % 3).cast("string")).as("event_type"),
        (col("id") % 101).cast("double").as("value"))
    graft.sources.TsLayout.write(src, graft.schema.TestSchema.events, path)

    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      helper.collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val windows = Seq(
      ("2024-03-01 00:00:00", "2024-05-01 00:00:00", 2L), // month-aligned: exactly 03, 04
      ("2024-03-10 00:00:00", "2024-05-20 00:00:00", 3L)) // mid-month: 03, 04, 05
    windows.foreach { case (lo, hi, months) =>
      val cond = col("ts") >= to_timestamp(lit(lo)) && col("ts") < to_timestamp(lit(hi))
      val pruned = graft.sources.TsLayout.read(spark, path).filter(cond).orderBy("event_id")
      val plan = pruned.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*ts_bucket".r.findFirstIn(plan).isDefined,
        s"a ts range must reach the scan as a ts_bucket partition filter:\n${plan.take(3000)}")
      assert(filesRead(pruned) == months, s"[$lo, $hi) must read one file per month in the window")
      assert(rows(pruned) == rows(src.filter(cond).orderBy("event_id")),
        "pruned rows must equal the unpruned source's")
    }

    // a layout without the marker behaves as before: no derived bound
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("_graft"))
    assert(markers.nonEmpty, "TsLayout.write must leave its layout marker at the root")
    markers.foreach(fs.delete(_, false))
    val plain = graft.sources.TsLayout.read(spark, path)
      .filter(col("ts") >= to_timestamp(lit("2024-03-01 00:00:00")))
    assert("PartitionFilters: \\[[^\\]]*ts_bucket".r
      .findFirstIn(plain.queryExecution.executedPlan.toString).isEmpty,
      "an unmarked layout must not get derived bucket bounds")
    assert(filesRead(plain) == 12L)
  }
}
