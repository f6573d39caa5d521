package graft.sql

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.expressions.{CosineSimilarity, HyperplaneBits, KernelTable, MinHashSignature, NearestCentroid, NearestCentroids, SimHash64, TextMinHash, TextSimHash, Tokens}

/**
 * SQL function surface: the reference exposes its engine through a
 * SQL-like language with a fixed registry
 * (yupana-core/src/main/scala/org/yupana/core/sql/FunctionRegistry.scala).
 * graft's SQL surface IS Spark SQL — `spark.sql(...)` over the
 * registered tables gives the reference's SELECT semantics directly —
 * and [[GraftFunctions.builders]] is the one table of graft-specific
 * functions (sketches, tokenizers, vector ops).
 *
 * One contract for reaching that table:
 *  - SQL text (`spark.sql`, `expr`, `call_function`) resolves graft
 *    names through the session registry, so it needs the session to
 *    carry them: cluster deployments inject [[GraftExtensions]] via
 *    `spark.sql.extensions=graft.sql.GraftExtensions`; local code calls
 *    [[GraftFunctions.register]] on an existing session.
 *  - Scala operators and Column helpers build their expressions from
 *    the table directly ([[GraftFunctions.call]]) and work on any
 *    session, registered or not.
 */
object GraftFunctions {

  private def intArg(exprs: Seq[Expression], i: Int, default: Int): Int =
    if (exprs.length > i) exprs(i).eval().asInstanceOf[Number].intValue() else default

  private def strArg(exprs: Seq[Expression], i: Int, default: String): String =
    if (exprs.length > i) exprs(i).eval().toString else default

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash" -> (exprs => MinHashSignature(exprs.head, 64)),
    "graft_simhash" -> (exprs => SimHash64(exprs.head)),
    "graft_cosine" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "graft_dot" -> (exprs => graft.functions.expressions.DotProduct(exprs(0), exprs(1))),
    // fused text → sketch: (text[, shingleSize[, numHashes]])
    "graft_text_minhash" -> (exprs => TextMinHash(exprs.head, intArg(exprs, 1, 3), intArg(exprs, 2, 64))),
    "graft_text_simhash" -> (exprs => TextSimHash(exprs.head, intArg(exprs, 1, 3))),
    "graft_char_ngrams" -> (exprs => graft.functions.expressions.CharNgrams(exprs.head, intArg(exprs, 1, 4))),
    // PPJoin candidate verification: (toksA, toksB, posA, posB, threshold_lit)
    "graft_ppj_verify" -> (exprs => graft.functions.expressions.PpjVerify(
      exprs(0), exprs(1), exprs(2), exprs(3),
      exprs(4).eval().asInstanceOf[Number].doubleValue())),
    // vector-index ops: centroid tables ride as a foldable literal argument,
    // decoded into the kernel's local table
    "graft_nearest_centroid" -> (exprs => NearestCentroid(exprs.head, centroidsArg(exprs(1)))),
    "graft_nearest_centroid_dist" -> (exprs =>
      graft.functions.expressions.NearestCentroidDist(exprs.head, centroidsArg(exprs(1)))),
    "graft_nearest_centroids" -> (exprs => NearestCentroids(exprs.head, centroidsArg(exprs(1)), intArg(exprs, 2, 4))),
    // two-level quantizer: (vec, l1_lit, l2_lit[, p1[, p2]]) → global cell ids
    "graft_nearest_cells_hier" -> (exprs =>
      graft.functions.expressions.NearestCellsHier(
        exprs.head, centroidsArg(exprs(1)), centroids3Arg(exprs(2)), intArg(exprs, 3, 2), intArg(exprs, 4, 2))),
    "graft_hyperplane_bits" -> (exprs => HyperplaneBits(exprs.head, intArg(exprs, 1, 16))),
    // product quantization: (vec, codebooks_lit) → array<int> codes, and
    // (codes, dots_flat, norms2_flat, qnorm, K) → ADC cosine
    "graft_pq_encode" -> (exprs =>
      graft.functions.expressions.PqEncode(exprs.head, centroids3Arg(exprs(1)))),
    "graft_pq_adc_cosine" -> (exprs =>
      graft.functions.expressions.PqAdcCosine(
        exprs(0), exprs(1), exprs(2), exprs(3), intArg(exprs, 4, 16))),
    // Bloom-filter membership over xxhash64 values: (serialized_filter_lit,
    // long_value) — Spark's own runtime-filter expression (codegen'd,
    // deserializes the foldable filter once per task), surfaced as a
    // callable function for the contamination prefilter. The filter
    // bytes MUST come from a long-typed build (BloomSidecar.build over
    // xxhash64 values): putLong and mightContainLong share the hash.
    "graft_might_contain" -> (exprs =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))),
    "graft_tokens" -> (exprs => Tokens(exprs.head, lowercase = true)),
    "graft_split_words" -> (exprs => Tokens(exprs.head, lowercase = false)),
    // reference stemmedTokens (yupana-utils TokenizerBase.scala:38): (text[, locale]) — locale
    // picks the registered Stemmer ('en' = English light / Harman S-stemmer)
    "graft_stemmed_tokens" -> (exprs =>
      Tokens(exprs.head, lowercase = true, stemmer = strArg(exprs, 1, "en"))),
    // reference RussianTransliterator.transliterate (yupana-utils
    // RussianTransliterator.scala:94): table-driven char → latin map
    "graft_translit" -> (exprs => graft.functions.expressions.Transliterate(exprs.head)),
    // reference transliteratedTokens (TokenizerBase.scala:34-36):
    // tokenize → stem → transliterate → drop emptied tokens — the
    // ItemDimension.hash normalization chain (ItemDimension.scala:54-56)
    "graft_transliterated_tokens" -> (exprs =>
      Tokens(exprs.head, lowercase = true, stemmer = strArg(exprs, 1, "en"), translit = true)),
    // reference hll_count(x, std_err) (FunctionRegistry.scala:276-291):
    // the std-err parameter form, validated to the reference's range,
    // mapped to the TIGHTEST DataSketches lgK meeting the requested
    // error (std_err ~ 1.04/sqrt(2^lgK)) and evaluated as
    // hll_sketch_estimate(hll_sketch_agg(x, lgK)) — mergeable
    // byte-register sketch state, map-side combined. NOT HLL++ with
    // relativeSD=std_err: HLL++ materializes 2^p/6 LONG buffer
    // attributes, so the reference's smallest legal std_err (3e-5 →
    // p=30) would demand a gigabyte-scale per-group buffer and a plan
    // with 10^8 attributes; DataSketches saturates at lgK=21 (~0.0007
    // actual error) — the tightest the engine offers.
    "graft_hll_count" -> (exprs => {
      // SQL numeric literals eval as Decimal, DataFrame lit() as
      // java.lang Number — accept both
      val stdErr =
        if (exprs.length <= 1) 0.05
        else exprs(1).eval() match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue()
          case other =>
            throw new IllegalArgumentException(s"std_err must be a numeric constant, got: $other")
        }
      if (stdErr < 0.00003 || stdErr > 0.367)
        throw new IllegalArgumentException(
          s"std_err must be in range (0.00003, 0.367), but: std_err=$stdErr")
      val lgK = math.min(21, math.max(4,
        math.ceil(2.0 * math.log(1.04 / stdErr) / math.log(2.0)).toInt))
      val sketch = new org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg(
        exprs.head, org.apache.spark.sql.catalyst.expressions.Literal(lgK))
      new org.apache.spark.sql.catalyst.expressions.HllSketchEstimate(
        sketch.toAggregateExpression())
    }),
    "graft_word_shingles" -> (exprs => graft.functions.expressions.WordShingles(exprs.head, intArg(exprs, 1, 3))),
    // BPE subword encode: (word_tokens, merges_lit[, end_marker]) — the
    // learned merge table ("left right" per rank) rides as a foldable
    // literal, resolved once into a reference-object rank map
    "graft_bpe_encode" -> (exprs =>
      graft.functions.expressions.BpeEncode(
        exprs.head, strArrayArg(exprs(1)), strArg(exprs, 2, "</w>"))),
    // native aggregate tier: Misra-Gries heavy hitters (token[, k])
    "graft_heavy_hitters" -> (exprs => graft.functions.expressions.MisraGries(exprs.head, intArg(exprs, 1, 100))),
    "graft_minhash_union" -> (exprs => graft.functions.expressions.MinHashUnionAgg(exprs.head, intArg(exprs, 1, 64))),
    // registry-completeness parity with the reference FunctionRegistry
    // (yupana-core sql/FunctionRegistry.scala:70-71 nullary now/database,
    // :173 id — the dimension's storage id; dims here are not
    // dictionary-encoded, so the stable-id analogue is a 64-bit hash)
    "graft_now" -> (_ => org.apache.spark.sql.catalyst.expressions.Now()),
    "graft_database" -> (_ => org.apache.spark.sql.catalyst.expressions.Literal("graft")),
    "graft_id" -> (exprs => org.apache.spark.sql.catalyst.expressions.XxHash64(exprs, 42L)),
    // Morton clustering key (a, b [, bits]) — the ZOrder layout's sort
    // key exposed to SQL (pure mask/shift/or, codegen'd)
    "graft_zkey" -> (exprs =>
      graft.operators.ZOrder.zkeyExpr(exprs(0), exprs(1), intArg(exprs, 2, 21))),
    // OFD receipt item-name mojibake repair (reference yupana-utils
    // OfdItemFixer.scala:22-29 via the yupana-api ItemFixer hook) — a
    // fold of codegen'd StringReplace, see graft.functions.ItemFixer
    "graft_fix_item" -> (exprs => graft.functions.ItemFixer.fixExpr(exprs.head))
  )

  private val byName: Map[String, Seq[Expression] => Expression] = builders.toMap

  /** The Column of graft function `name` over `args`, built by the same
    * builder the analyzer calls for SQL text — so the plan is the one a
    * registered session gets, with no registration needed. */
  def call(name: String, args: Column*): Column =
    ColumnBridge.column(byName(name)(args.map(ColumnBridge.expression)))

  /** Decode a foldable array<string> literal (the BPE merge table). */
  private def strArrayArg(e: Expression): Array[String] = {
    val arr = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getUTF8String(i).toString)
  }

  /** Decode a foldable array<array<float>> literal into a local centroid table. */
  private def centroidsArg(e: Expression): KernelTable[Array[Array[Float]]] =
    KernelTable.Local(floats2(e.eval().asInstanceOf[ArrayData]))

  /** Decode a foldable array<array<array<float>>> literal (per-L1-cell
    * L2 centroid tables of the two-level quantizer, or PQ codebooks). */
  private def centroids3Arg(e: Expression): KernelTable[Array[Array[Array[Float]]]] = {
    val outer = e.eval().asInstanceOf[ArrayData]
    KernelTable.Local(Array.tabulate(outer.numElements())(i => floats2(outer.getArray(i))))
  }

  private def floats2(outer: ArrayData): Array[Array[Float]] =
    Array.tabulate(outer.numElements()) { i =>
      val inner = outer.getArray(i)
      Array.tabulate(inner.numElements())(j => inner.getFloat(j))
    }

  /** Register the graft function surface, installing only the names the
    * session's registry does not already hold (idempotent: a repeat call,
    * or a [[GraftExtensions]] session, keeps what is there and logs no
    * "replaced a previously registered function" warning). Function
    * registration ONLY — the TopKPerKey planner strategy is a
    * whole-session re-plan and is installed explicitly
    * ([[installTopKStrategy]] or GraftExtensions), never as a side effect
    * of making functions callable. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  /** Opt in to heap-based top-k-per-key planning for this session
    * (idempotent). Memory-safe at any key cardinality: TopKPerKeyExec
    * spills past `spark.graft.topk.maxRowsInMemory` retained rows. */
  def installTopKStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[graft.plans.TopKPerKeyStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy(spark)

  /** Opt in to automatic query-over-rollup routing for this session
    * (idempotent): aggregates covered by a registered [[RollupRoute]]
    * read the materialized rollup instead of the fact. */
  def installRollupRouting(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[RollupRewriteRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RollupRewriteRule(spark)

  val allTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register tables as temp views for the SQL surface (default: all). */
  def registerTables(
      spark: SparkSession,
      load: String => org.apache.spark.sql.DataFrame,
      tables: Seq[String] = allTables
  ): Unit =
    tables.foreach(t => load(t).createOrReplaceTempView(t))
}

/** `spark.sql.extensions` entry point for cluster-wide injection. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.expressions", name),
          (exprs: Seq[Expression]) => b(exprs)
        )
      )
    }
    ext.injectOptimizerRule(_ => SketchFusionRule)
    ext.injectOptimizerRule(session => RollupRewriteRule(session))
    // after the operator-optimization fixed point (so rollup routing has
    // already matched its shapes), before the scan push-down batch
    ext.injectPreCBORule(session => graft.sources.TsBucketPruning(session))
    ext.injectPlannerStrategy(spark => graft.plans.TopKPerKeyStrategy(spark))
    // reference admin SQL statements (SHOW/DELETE QUERY METRICS, KILL
    // QUERY, SHOW UPDATES_INTERVALS); everything else delegates to
    // Spark's parser
    ext.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
  }
}
