package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, TextAnalysis}

/**
 * corpus_curate: one batch curation pass per op, single driver thread.
 * exact dedup -> MinHash-LSH candidates -> exact Jaccard verify ->
 * connected components -> quality score -> keep-best per cluster ->
 * IVF index build -> IVF kNN self-join. Every step's output is
 * materialized, so each step is timed on its own.
 */
final class Curate extends Workload {
  import Curate._

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var threshold = 0.0
  private var nDocs = 0L
  private var last: Pass = _
  private var lastOp = 0L

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    threshold = Json.read(s"${ctx.inputs}/truth.json").get("threshold").asDouble
    docs = s.read.parquet(s"${ctx.inputs}/documents").cache()
    emb = s.read.parquet(s"${ctx.inputs}/embeddings").select(col("vec_id"), col("embedding")).cache()
    nDocs = docs.count()
    emb.count()
    pass(ctx, 0L, warm = true) // untimed: JIT, codegen and file listings
  }


  private def pass(ctx: Ctx, op: Long, warm: Boolean): Pass = {
    val s = ctx.spark
    val (nh, bands) = Dedup.minhashBanding(threshold)
    val exact = ctx.step(op, "operators.Dedup.exact") {
      Dedup.exact(docs, "doc_id", "text").localCheckpoint()
    }
    val cands = ctx.step(op, "operators.Dedup.minhashPairs") {
      Dedup.minhashPairs(docs, "doc_id", "text", numHashes = nh, bands = bands, threshold = 0.0)
        .select(col("id_a"), col("id_b")).localCheckpoint()
    }
    val verified = ctx.step(op, "operators.Dedup.exactJaccardVerify") {
      Dedup.exactJaccardVerify(cands, docs, "doc_id", "text", shingleSize = 3)
        .filter(col("jac") >= threshold).localCheckpoint()
    }
    val comps = ctx.step(op, "operators.Dedup.connectedComponents") {
      Dedup.connectedComponents(verified).localCheckpoint()
    }
    val scored = ctx.step(op, "operators.TextAnalysis.qualityScore") {
      docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")).localCheckpoint()
    }
    val kept = ctx.step(op, "operators.Dedup.dedupKeepBest") {
      Dedup.dedupKeepBest(scored, "doc_id", col("quality"), verified).filter(col("keep")).localCheckpoint()
    }
    val idx = ctx.path("ivf", if (warm) "warm" else s"pass$op")
    ctx.step(op, "operators.Ann.buildIvfIndex")(Ann.buildIvfIndex(s, emb, idx, numCells = 16))
    val knn = ctx.step(op, "operators.Ann.knnJoinIvf") {
      Ann.knnJoinIvf(emb, "vec_id", "embedding", k = K).localCheckpoint()
    }
    Pass(exact, cands, verified, comps, kept, knn)
  }

  def run(ctx: Ctx, deadlineMs: Double): Unit =
    while (Clock.nowMs < deadlineMs) {
      val (p, op) = ctx.runOp("pass", "curate") { id => (pass(ctx, id, warm = false), nDocs) }
      last = p
      lastOp = op.id
    }

  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    import s.implicits._
    val truth = Json.read(s"${ctx.inputs}/truth.json")
    val shift = if (ctx.corrupt) 1L else 0L
    val planted = Json.elems(truth.get("planted_pairs")).map { n =>
      (n.get(0).asLong + shift, n.get(1).asLong, n.get(2).asDouble)
    }
    val minJac = if (ctx.corrupt) 1.01 else threshold
    val text = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val pairs = last.verified.select(col("id_a"), col("id_b"), col("jac")).as[(Long, Long, Double)].collect()

    val badJac = pairs.filter { case (a, b, j) =>
      val exactJ = jaccard(text(a), text(b))
      exactJ < minJac || math.abs(exactJ - j) > 1e-9
    }
    ctx.check("curate.verified_pairs_exact", pairs.nonEmpty && badJac.isEmpty,
      s"${pairs.length} verified pairs; ${badJac.length} below threshold $threshold or misreported" +
        badJac.headOption.map(p => s"; first $p").getOrElse(""))

    val found = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val must = planted.filter(_._3 >= threshold).map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    val recall = if (must.isEmpty) 1.0 else must.count(found).toDouble / must.size
    ctx.check("curate.planted_recall", must.nonEmpty && recall >= PlantedRecallBound,
      f"recall $recall%.4f over ${must.size} planted pairs at jaccard >= $threshold (bound $PlantedRecallBound)")

    val exactDups = planted.count(_._3 == 1.0) + shift
    val groups = last.exact.count()
    ctx.check("curate.exact_groups", groups == nDocs - exactDups,
      s"$groups content groups for $nDocs docs with $exactDups planted exact copies")

    val clusters = last.comps.select(col("component")).distinct().count() +
      (nDocs - last.comps.count()) + shift
    val kept = last.kept.count()
    ctx.check("curate.keep_one_per_cluster", kept == clusters,
      s"$kept kept docs for $clusters clusters (singletons included)")

    val queries = emb.filter(col("vec_id") % (emb.count() / QuerySample) === 0).limit(QuerySample)
    val truthNn = Ann.bruteForceTopK(emb, queries, K)
      .select(col("query_id"), col("item_id") + shift).as[(Long, Long)].collect().groupBy(_._1)
    val got = last.knn.join(queries.select(col("vec_id").as("query_id")), Seq("query_id"))
      .select(col("query_id"), col("item_id")).as[(Long, Long)].collect().groupBy(_._1)
    val hits = truthNn.map { case (q, xs) =>
      (xs.map(_._2).toSet & got.getOrElse(q, Array.empty).map(_._2).toSet).size }.sum
    val total = truthNn.values.map(_.length).sum
    knnRecall = if (total == 0) 0.0 else hits.toDouble / total
    ctx.check("curate.knn_recall_at_10", total > 0 && knnRecall >= KnnRecallBound,
      f"recall@$K $knnRecall%.4f over ${truthNn.size} queries against Ann.bruteForceTopK (bound $KnnRecallBound)")
    if (ctx.checks.exists(!_._2)) ctx.wrong.add(lastOp)
  }

  private var knnRecall = 0.0

  def metrics(ctx: Ctx, timedMs: Double): Map[String, Double] = {
    val walls = ctx.opList.map(_.wallMs)
    val (pct, tail) = Stats.tail(walls)
    val docsTotal = ctx.opList.map(_.items).sum.toDouble
    ctx.report("curate_docs_per_s") = (nDocs / (Stats.median(walls) / 1000.0), "docs/s")
    ctx.report("curate_input_docs") = (nDocs.toDouble, "docs")
    ctx.report("curate_pass_p50_ms") = (Stats.median(walls), "ms")
    ctx.report("curate_passes") = (walls.size.toDouble, "count")
    ctx.report("curate_tail_percentile") = (pct.toDouble, "percentile")
    Map("throughput" -> docsTotal / (timedMs / 1000.0), "p50_ms" -> Stats.median(walls), "tail_ms" -> tail)
  }

  def layerMetrics(ctx: Ctx, an: Analysis): Unit = {
    def med(n: String) = ctx.stepMedianMs(n)
    Seq("op.dedup_exact_ms" -> "operators.Dedup.exact",
      "op.minhash_pairs_ms" -> "operators.Dedup.minhashPairs",
      "op.jaccard_verify_ms" -> "operators.Dedup.exactJaccardVerify",
      "op.components_ms" -> "operators.Dedup.connectedComponents",
      "op.quality_ms" -> "operators.TextAnalysis.qualityScore",
      "op.keep_best_ms" -> "operators.Dedup.dedupKeepBest",
      "op.ivf_build_ms" -> "operators.Ann.buildIvfIndex",
      "op.knn_ms" -> "operators.Ann.knnJoinIvf").foreach { case (k, n) => ctx.layer(k) = (med(n), "ms") }
    val c = last.cands.count().toDouble
    val v = last.verified.count().toDouble
    ctx.layer("op.candidate_pairs") = (c, "count")
    ctx.layer("op.verified_pairs") = (v, "count")
    ctx.layer("op.verify_yield") = (if (c > 0) v / c else 0.0, "ratio")
    ctx.layer("op.knn_recall_at_10") = (knnRecall, "ratio")
  }
}

object Curate {
  val K = 10
  val QuerySample = 32
  val PlantedRecallBound = 0.99
  val KnnRecallBound = 0.9

  final case class Pass(
      exact: DataFrame, cands: DataFrame, verified: DataFrame, comps: DataFrame,
      kept: DataFrame, knn: DataFrame)

  /** Distinct word-trigram Jaccard, computed independently of graft's
    * kernels (the generated texts are lowercase words and single spaces). */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String): Set[String] = {
      val w = t.split(' ').filter(_.nonEmpty)
      if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    (x & y).size.toDouble / (x | y).size
  }
}
