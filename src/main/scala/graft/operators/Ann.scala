package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag
import graft.sql.GraftFunctions
import graft.functions.expressions.{KernelTable, NearestCellsHier, NearestCentroid,
  NearestCentroidDist, NearestCentroids, PqEncode, SubCells}

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (SURVEY.md §2.10, beyond the reference's surface).
 *
 * Scale design: the query set is broadcast (queries << corpus); the
 * corpus is scanned once. Brute force is the exact baseline; IVF
 * restricts each query to `probes` coarse cells, shrinking the
 * candidate set by ~numCells/probes. The centroid table is bounded
 * metadata (numCells × dim floats): it is computed with exact-decimal
 * means (deterministic across partition orders), collected once, and
 * shipped inside a native expression — cell assignment is a narrow map,
 * never a crossJoin, so the only wide operations are the final
 * per-query top-k and the (tiny) mean aggregations.
 */
object Ann {

  /** Spread an all-pairs probe side across the session's cores. A
    * gate-scale corpus often arrives as ONE tiny parquet split, and a
    * cartesian/broadcast-NL join inherits the probe side's
    * partitioning — leaving every candidate cosine on a single core
    * (measured: 2000 vectors self-kNN ran its 4M cosines
    * single-threaded, 5.5s of a 5.5s query). On the brute dispatch the
    * side is ≤ bruteBound rows; direct bruteForceTopK callers with a
    * big under-partitioned corpus pay one repartition pass — strictly
    * dominated by the |corpus|·|queries| cross-join compute that
    * follows it, so the trade holds at any size. (df.rdd also plans
    * the subtree once; negligible against the join it prevents
    * serializing.) */
  private[operators] def spread(df: DataFrame): DataFrame = {
    // streaming frames cannot be partition-inspected (df.rdd) and their
    // micro-batch parallelism is the source's concern — pass through
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** A (vec_id, embedding) frame as the (item_id, item_vec) item side. */
  private def items(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))

  /** Exact cosine top-k: every query vector against the whole corpus.
    * Per-candidate work is one fused codegen'd cosine (graft_cosine). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // deliberate physical-plan choice: per-query key cardinality is the
    // (bounded) query set, so the heap operator is strictly better than
    // the sort-based window — and it spills past the configured bound.
    graft.sql.GraftFunctions.installTopKStrategy(corpus.sparkSession)
    val joined = spread(items(corpus))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))))
      .filter(col("query_id") =!= col("item_id"))
      .withColumn("cos", GraftFunctions.call("graft_cosine", col("query_vec"), col("item_vec")))
      // zero-norm vectors have no defined cosine (graft_cosine → NULL);
      // exclude them so the heap and sort physical paths rank identically
      .filter(col("cos").isNotNull)
    rankTopK(joined, k)
  }

  /**
   * Per-cell mean vectors over a driver-local sample.
   *
   * Determinism across partition orders is what matters (the quantizer
   * must train identically on every run), not exactness: components
   * are fixed-point-scaled to LONG and summed — integer addition is
   * associative and commutative, so the mean is independent of the
   * order the sample was collected in, at ~2^-20 quantization
   * (irrelevant to cluster geometry).
   */
  private val MeanScale = 1L << 20

  private def localMeans(
      sample: Array[(Long, Array[Float])],
      cells: Array[Int],
      numCells: Int
  ): Array[Array[Float]] = {
    val dim = sample.iterator.map(_._2.length).foldLeft(0)(math.max)
    val sums = Array.fill(numCells)(Array.fill(dim)(0L))
    val counts = Array.fill(numCells)(0L)
    var r = 0
    while (r < sample.length) {
      val vec = sample(r)._2
      val s = sums(cells(r))
      var i = 0
      while (i < vec.length) {
        s(i) += (vec(i).toDouble * MeanScale.toDouble).toLong
        i += 1
      }
      counts(cells(r)) += 1L
      r += 1
    }
    // dense table in cell order; empty cells (possible at tiny SF) keep a zero vector
    Array.tabulate(numCells) { c =>
      if (counts(c) == 0L) Array.fill(dim)(0.0f)
      else sums(c).map(s => (s.toDouble / MeanScale.toDouble / counts(c).toDouble).toFloat)
    }
  }

  private[graft] def centroidsLit(cents: Array[Array[Float]]) =
    typedlit[Seq[Seq[Float]]](cents.map(_.toSeq).toSeq)

  // ---- vector-kernel columns ----
  //
  // Each kernel is one expression over a KernelTable. SQL text decodes
  // its table from a plan literal into the local form (bounded
  // user-written tables); every Scala operator below instead broadcasts
  // the trained table ONCE per query (`bcastTable`) and builds its
  // columns around the handle, so a task ships a few bytes instead of
  // the table. One broadcast serves every column built from it (items +
  // queries + stats share the same handle).

  private[graft] def bcastTable[T <: AnyRef: ClassTag](spark: SparkSession, t: T): KernelTable[T] =
    KernelTable.Broadcasted(spark.sparkContext.broadcast(t))

  private[graft] def nearestCentroid(vec: Column, t: KernelTable[Array[Array[Float]]]): Column =
    ExpressionUtils.column(NearestCentroid(ExpressionUtils.expression(vec), t))

  private[graft] def nearestCentroids(vec: Column, t: KernelTable[Array[Array[Float]]], probes: Int): Column =
    ExpressionUtils.column(NearestCentroids(ExpressionUtils.expression(vec), t, probes))

  private[graft] def nearestCentroidDist(vec: Column, t: KernelTable[Array[Array[Float]]]): Column =
    ExpressionUtils.column(NearestCentroidDist(ExpressionUtils.expression(vec), t))

  private[graft] def nearestCellsHier(
      vec: Column,
      l1: KernelTable[Array[Array[Float]]],
      l2: KernelTable[Array[Array[Array[Float]]]],
      p1: Int, p2: Int): Column =
    ExpressionUtils.column(NearestCellsHier(ExpressionUtils.expression(vec), l1, l2, p1, p2))

  private[graft] def pqEncode(vec: Column, t: KernelTable[Array[Array[Array[Float]]]]): Column =
    ExpressionUtils.column(PqEncode(ExpressionUtils.expression(vec), t))

  private[graft] def subCells(
      cell: Column, vec: Column,
      t: KernelTable[java.util.HashMap[Integer, Array[Array[Float]]]], probes: Int): Column =
    ExpressionUtils.column(SubCells(
      ExpressionUtils.expression(cell), ExpressionUtils.expression(vec), t, probes))

  /**
   * IVF-lite: deterministic coarse quantizer (hash-bucket seed means +
   * Lloyd refinement under a fixed iteration budget), probe-limited
   * search.
   *
   * `lloydIters` is the training budget. Training runs on a BOUNDED
   * DETERMINISTIC SAMPLE (hash-filtered — partition-order-independent,
   * no RNG state), persisted for the rounds, so the FULL corpus is
   * scanned exactly once for the final assignment no matter the
   * budget — the production IVF shape (train on sample, assign all).
   * Each round is one narrow assignment pass over the sample plus a
   * numCells×dim exact-decimal mean (bounded metadata, deterministic
   * across partition orders); the loop short-circuits when centroids
   * stop moving. Recall@k vs brute force is asserted (and reported) in
   * OperatorSpec.
   */
  def ivfTopK(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numCells: Int = 16,
      probes: Int = 4,
      lloydIters: Int = 5,
      trainSample: Long = 20000L
  ): DataFrame =
    ivfSearch(corpus, queries, ivfTrain(spark, corpus, numCells, lloydIters, trainSample), k, probes)

  /** Train the coarse quantizer (see [[ivfTopK]]) and return the
    * centroid table — bounded metadata (numCells × dim floats) the
    * caller can reuse across searches, exactly like a persisted index. */
  def ivfTrain(
      spark: SparkSession,
      corpus: DataFrame,
      numCells: Int = 16,
      lloydIters: Int = 5,
      trainSample: Long = 20000L,
      knownCount: Long = -1L // corpus size if the caller already counted (skips a pass)
  ): Array[Array[Float]] = {
    // null vectors carry no geometry: collectSample drops them
    lloydOn(collectSample(items(corpus), scaledTrainSample(trainSample, numCells), knownCount),
      numCells, lloydIters)
  }

  /** Training-sample floor for a `cells`-cell quantizer: ≥32 sample
    * points per wanted cell — under that, Lloyd hands most cells zero
    * or one point and the table degenerates to duplicate/empty
    * centroids (the r13 fixed default of 20k was ~5 points/cell at the
    * 4096-cell flip). Capped at 2^21 rows (× dim × 4 B ≈ 256 MB of
    * driver sample at dim 128) so the collect stays a bounded driver
    * action; never below the caller's explicit ask. */
  private[graft] def scaledTrainSample(requested: Long, cells: Int): Long =
    math.min(math.max(requested, 32L * cells), math.max(requested, 1L << 21))

  /**
   * TWO-LEVEL quantizer: a coarse table of `c1` cells plus, per coarse
   * cell, a fine table of `c2` cells trained on that cell's share of
   * the sample — c1·c2 effective cells at (c1 + p1·c2)·dim per-row
   * assignment cost instead of the flat table's (c1·c2)·dim. This is
   * what keeps ≥10^5-cell quantizers a narrow map: a flat 65k-cell
   * table costs 65k·dim multiply-adds per row, the 256×256 two-level
   * equivalent ~512·dim. Same bounded driver-side training discipline
   * as [[ivfTrain]] (one sample collect, local Lloyd); empty coarse
   * cells get zero-vector fine tables (they win no assignments that
   * matter — their coarse cell was never nearest for the sample).
   */
  def ivfTrainHier(
      spark: SparkSession,
      corpus: DataFrame,
      c1: Int,
      c2: Int,
      lloydIters: Int = 5,
      trainSample: Long = 20000L,
      knownCount: Long = -1L
  ): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    // null vectors: no geometry, never rank — see [[ivfTrain]]
    val base = items(corpus).filter(col("item_vec").isNotNull)
    val n = if (knownCount >= 0L) knownCount else base.count()
    // coarse level: driver-sample Lloyd, sample floored at 32·c1 — the
    // coarse table is small (≤ ~1500 cells even at 10^9 vectors), so the
    // bounded driver collect is the right tool here
    val sample = collectSample(base, scaledTrainSample(trainSample, c1), n)
    val l1 = lloydOn(sample, c1, lloydIters)
    val dim = sample.iterator.map(_._2.length).foldLeft(0)(math.max)
    (l1, trainFineDistributed(spark, base, l1, c2, lloydIters, n, dim))
  }

  /**
   * Fine-level training ON THE EXECUTORS — one independent Lloyd per
   * coarse cell over that cell's own bounded sample. The r13 form
   * partitioned the 20k DRIVER sample by coarse cell: at the 4096-cell
   * flip that was ~5 points per fine cell, and at a 100-TB-scale 2M-cell
   * quantizer ~14 points training 1414 fine cells per coarse cell —
   * mostly-empty/duplicate centroids. Here each coarse cell trains on
   * ≥32·c2 of ITS OWN vectors (a corpus-wide deterministic hash filter
   * targets 2× that per cell on average; skew-heavy cells cap at the
   * per-cell bound, sparse cells train on what they have), so the fine
   * tables stay well-conditioned at ANY corpus size and the training
   * work parallelizes across coarse cells instead of serializing on the
   * driver. Deterministic end to end: the hash filter, the per-cell
   * take in (xxhash, id) sort order, and the hash-seeded Lloyd have no
   * partition-order or RNG dependence. The collected result is the fine
   * table itself (c1·c2·dim floats) — the artifact the caller was going
   * to hold either way.
   */
  private def trainFineDistributed(
      spark: SparkSession,
      base: DataFrame,
      l1: Array[Array[Float]],
      c2: Int,
      lloydIters: Int,
      n: Long,
      dim: Int
  ): Array[Array[Array[Float]]] = {
    import spark.implicits._
    val c1 = l1.length
    val perCell = scaledTrainSample(0L, c2) // ≥32·c2 vectors per coarse cell
    // corpus-wide filter rate targeting ~2·perCell per coarse cell on
    // average (the 2× headroom feeds moderately-unbalanced cells; heavy
    // cells cap below, empty cells zero-fill)
    val targetRows = 2L * perCell * c1
    val filtered =
      if (n <= targetRows) base
      else {
        val permille = math.max(1L, 10000L * targetRows / n)
        base.filter(pmod(xxhash64(col("item_id"), lit(11)), lit(10000L)) < lit(permille))
      }
    val bcL1 = bcastTable(spark, l1)
    val fine: Array[(Int, Seq[Seq[Float]])] = filtered
      .select(
        nearestCentroid(col("item_vec"), bcL1).as("cell"),
        xxhash64(col("item_id"), lit(13)).as("hk"),
        col("item_id"), col("item_vec"))
      .as[(Int, Long, Long, Seq[Float])]
      .groupByKey(_._1)
      // sorted groups pin the take order (plain mapGroups iterates in
      // partition-arrival order — nondeterministic under shuffles)
      .flatMapSortedGroups($"hk", $"item_id") { (cell, it) =>
        val taken = it.take(perCell.toInt).map(t => (t._3, t._4.toArray)).toArray
        // lloydOn's contract: id-sorted input (collectSample discipline)
        java.util.Arrays.sort(taken, Ordering.by((t: (Long, Array[Float])) => t._1))
        Iterator.single((cell,
          lloydOn(taken, c2, lloydIters, parallelAssign = false).map(_.toSeq).toSeq))
      }
      .collect()
    val byCell = fine.toMap
    Array.tabulate(c1) { c =>
      byCell.get(c) match {
        case Some(table) => table.map(_.toArray).toArray
        // a coarse cell with NO corpus vectors wins no assignments that
        // matter — zero-vector fine table, as before
        case None => Array.fill(c2)(Array.fill(dim)(0.0f))
      }
    }
  }

  /** Bounded deterministic training sample: hash-filter to ~trainSample
    * vectors, collect ONCE (trainSample × dim floats, ~5 MB at the
    * default) so the Lloyd loop runs on the driver instead of paying
    * one cluster job per round. The full corpus is never collected. */
  private def collectSample(
      base: DataFrame, trainSample: Long, knownCount: Long): Array[(Long, Array[Float])] = {
    // the null-vector guard lives HERE, covering every trainer
    // (ivfTrain, ivfTrainHier, pqTrain, buildIvf) — a null
    // embedding would NPE the row decode below. `knownCount` is by
    // contract the null-FILTERED count (every internal caller —
    // knnJoinIvf, embeddingPairsIvf — counts the filtered side);
    // callers that only know the raw corpus size pass -1.
    val filtered = base.filter(col("item_vec").isNotNull)
    val n = if (knownCount >= 0L) knownCount else filtered.count()
    val train =
      if (n <= trainSample) filtered
      else {
        val permille = math.max(1L, 10000L * trainSample / n)
        filtered.filter(pmod(xxhash64(col("item_id"), lit(7)), lit(10000L)) < lit(permille))
      }
    val sample: Array[(Long, Array[Float])] = train
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // fixed-point sums make the means collect-order-independent anyway;
    // sorting pins the iteration order for anything order-sensitive later
    java.util.Arrays.sort(sample, Ordering.by((t: (Long, Array[Float])) => t._1))
    sample
  }

  /** Hash-seeded Lloyd refinement on a driver-local sample, short-
    * circuiting once centroids stop moving. */
  private def lloydOn(
      sample: Array[(Long, Array[Float])], numCells: Int, lloydIters: Int,
      // false on EXECUTOR-side calls (trainFineDistributed): many
      // concurrent tasks dispatching onto the one shared commonPool
      // would oversubscribe cores and serialize on pool contention —
      // the task itself IS the parallelism there
      parallelAssign: Boolean = true): Array[Array[Float]] = {
    // seed centroids: means of hash buckets (same XXH64(seed=42) pmod as
    // the SQL xxhash64 expression)
    val seedCells = sample.map { case (id, _) =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
      (((h % numCells) + numCells) % numCells).toInt
    }
    var cents = localMeans(sample, seedCells, numCells)
    var iter = 0
    var converged = false
    while (iter < lloydIters && !converged) {
      val cur = cents
      val cells = new Array[Int](sample.length)
      // the assignment argmin is embarrassingly parallel and positional
      // writes keep it deterministic; fork-join overhead only pays off
      // on the big driver-side tables (scaledTrainSample can now put
      // ~131k samples against a 4096-cell table — ~50s sequential,
      // seconds parallel), while the executor-side fine Lloyds stay
      // sequential and don't fight the task's own parallelism
      if (parallelAssign && sample.length.toLong * numCells >= (1L << 22)) {
        java.util.stream.IntStream.range(0, sample.length).parallel()
          .forEach(i => cells(i) =
            graft.functions.expressions.VectorOps.nearestLocal(sample(i)._2, cur))
      } else {
        var i = 0
        while (i < sample.length) {
          cells(i) = graft.functions.expressions.VectorOps.nearestLocal(sample(i)._2, cur)
          i += 1
        }
      }
      val next = localMeans(sample, cells, numCells)
      converged = java.util.Arrays.deepEquals(
        cents.asInstanceOf[Array[AnyRef]], next.asInstanceOf[Array[AnyRef]])
      cents = next
      iter += 1
    }
    cents
  }

  /** 3-level literal for the per-coarse-cell fine tables. */
  private[graft] def centroidsLit3(l2: Array[Array[Array[Float]]]) =
    typedlit[Seq[Seq[Seq[Float]]]](l2.map(_.map(_.toSeq).toSeq).toSeq)

  /** Probe-limited search against a trained centroid table: one full
    * corpus assignment pass + per-query candidate top-k. */
  def ivfSearch(
      corpus: DataFrame,
      queries: DataFrame,
      cents: Array[Array[Float]],
      k: Int,
      probes: Int
  ): DataFrame = {
    graft.sql.GraftFunctions.installTopKStrategy(corpus.sparkSession)
    rankTopK(probedCandidates(corpus, queries, cents, probes), k)
  }

  private def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id").asc)
    cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("item_id"), col("cos"), col("rank"))
  }

  /** Exact cosine from a fresh dot product and PRE-COMPUTED per-vector
    * norms: bit-identical to `graft_cosine` (same per-element double
    * accumulation via graft_dot, same `sqrt(na)·sqrt(nb)` denominator,
    * null for zero norms — try_divide, because under ANSI mode a plain
    * `/` THROWS on the zero denominator a zero-norm vector produces,
    * where graft_cosine's internal Java 0/0 quietly made the NaN its
    * null guard absorbs — and null dot (length mismatch / null
    * element) propagates to null), at one-third the per-candidate
    * FLOPs. Use wherever a candidate join re-meets the same vectors
    * many times. */
  private[graft] def cosFromNorms(qv: org.apache.spark.sql.Column, iv: org.apache.spark.sql.Column, qn: org.apache.spark.sql.Column, in_ : org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val c = try_divide(GraftFunctions.call("graft_dot", qv, iv), qn * in_)
    when(isnan(c), lit(null).cast("double")).otherwise(c)
  }

  /**
   * Self k-NN join: every vector's k nearest neighbors (cosine) within
   * the SAME table — the all-to-all sibling of [[bruteForceTopK]]
   * (whose query side is bounded and broadcast). Used for building
   * similarity graphs over a whole corpus: semantic clustering,
   * diversity sampling, graph-based curation.
   *
   * Dispatch mirrors [[Dedup.embeddingPairs]]: up to `bruteBound`
   * vectors the exact all-pairs plan runs (bit-exact, affordable —
   * the size probe scans at most bruteBound+1 ids, never the corpus);
   * past it the IVF-cell-partitioned variant ([[knnJoinIvf]]) runs
   * instead — sub-quadratic, recall measured in OperatorSpec, never a
   * corpus-sized broadcast.
   */
  def knnJoin(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      probes: Int = 3,
      bruteBound: Long = graft.operators.Dedup.LowThresholdBruteBound,
      trainSample: Long = 20000L
  ): DataFrame = {
    val vecs = df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    // the bounded probe doubles as the exact count when the corpus is
    // small; on the large branch it short-circuits at bound+1 rows and
    // the one full count lives inside knnJoinIvf (reused for cell
    // sizing AND the trainer's sampling rate — a single corpus-metadata
    // job, never two)
    graft.operators.Dedup.probedCount(df, idCol, bruteBound) match {
      case Some(_) => bruteForceTopK(vecs, vecs, k)
      case None => knnJoinIvf(df, idCol, vecCol, k, probes = probes, trainSample = trainSample)
    }
  }

  /**
   * IVF-cell-partitioned self k-NN join — the scale path. Unlike
   * [[ivfSearch]] the query side IS the corpus, so nothing is
   * broadcast: items carry their single nearest cell, queries explode
   * their `probes` nearest cells, and candidates come from a SHUFFLE
   * hash join on the cell key — both sides partition by cell, work is
   * Σ_cells |cell|·|probers(cell)| ≈ N·probes·cellSize, a
   * numCells/probes reduction over the N² brute join that holds at any
   * corpus size because the cell count is sized from the corpus
   * (~512 vectors/cell, two-level quantizer past 4096 flat cells —
   * the [[Dedup.embeddingPairsIvf]] discipline). The per-query top-k
   * runs on the heap operator (TopKPerKeyExec — no partition-wide
   * sort), keyed by query id.
   *
   * APPROXIMATE at cell boundaries: a true neighbor quantized to a
   * cell the query does not probe is replaced by the next-best probed
   * candidate. Recall@k vs brute force is measured (OperatorSpec), and
   * `probes` buys recall with candidate volume (∝ probes).
   *
   * On the TWO-LEVEL branch (auto past 4096 flat cells) queries probe
   * `hierP1` coarse × `hierP2` fine cells — hierP1·hierP2 effective
   * cells per query, the [[ivfTrainHier]] cost split — NOT `probes`
   * (which only drives the flat branch): the two dials are separate
   * because a level's probe count multiplies, not adds.
   */
  def knnJoinIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCells: Int = 0,
      probes: Int = 3,
      hierP1: Int = 2,
      hierP2: Int = 2,
      trainSample: Long = 20000L,
      knownCount: Long = -1L, // corpus size if the caller already counted (skips a pass)
      centroids: Array[Array[Float]] = null, // pre-trained flat quantizer; skips ivfTrain
      cellTarget: Int = 512, // sizing target per cell; splitting triggers at 4× this
      splitProbes: Int = 2 // sub-cells probed inside a split cell (≥ split width ⇒ exhaustive)
  ): DataFrame = {
    val spark = df.sparkSession
    graft.sql.GraftFunctions.installTopKStrategy(spark)
    val vecs = df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    // Per-vector norms are computed ONCE at assignment time
    // (sqrt(graft_dot(v, v)) — the identical sum-of-squares fold
    // CosineSimilarity runs), so each of the ~n·probes·cellSize
    // candidates pays one dot product instead of dot + two norms.
    // dot/(na·nb) is bit-identical to graft_cosine — same accumulation
    // order, same double sqrt — and the NaN→null guard reproduces its
    // zero-norm / mismatch / null-element semantics (null dot ⇒ null
    // cos); see [[cellTopK]] for where the arithmetic now runs.
    def withNorms(v: DataFrame, side: String): DataFrame =
      v.select(col("vec_id").as(s"${side}_id"), col("embedding").as(s"${side}_vec"))
        .withColumn(s"${side}_n",
          sqrt(GraftFunctions.call("graft_dot", col(s"${side}_vec"), col(s"${side}_vec"))))
    // each branch yields the item's cell and the query's probed cells
    val (itemCell, queryCells) =
      if (centroids != null) {
        // caller-supplied flat quantizer (shared across probe settings or a
        // persisted index): skip counting + training, go straight to assignment
        val bcC = bcastTable(spark, centroids)
        (nearestCentroid(col("item_vec"), bcC), nearestCentroids(col("query_vec"), bcC, probes))
      } else {
        // the null-FILTERED count: it sizes the quantizer (wanted cells)
        // AND feeds the trainers' sampling rate, and both want the count
        // of vectors that actually carry geometry — on a null-heavy
        // corpus the unfiltered count would oversize the cell table and
        // under-target the training sample proportionally
        val n = if (knownCount >= 0L) knownCount
                else vecs.filter(col("embedding").isNotNull).count()
        // ~cellTarget vectors/cell (r13 cell-size sweep, SURVEY.md
        // §2.10 q_knn_join — full self-kNN wall at 140k vectors: 106s
        // at 2048/cell, 64s at 1024, 52.7s at 512, 59.1s at 256 where
        // the cells×dim assignment pass overtakes; recall@5 = 1.000 at every sizing on the replica+noise
        // corpora — `probes` stays the recall dial)
        val wanted = math.max(16L, n / cellTarget)
        if (numCells <= 0 && wanted > 4096L) {
          val side = math.ceil(math.sqrt(wanted.toDouble)).toInt
          val (l1, l2) = ivfTrainHier(spark,
            vecs.select(xxhash64(col("vec_id")).as("vec_id"), col("embedding")),
            side, side, trainSample = trainSample, knownCount = n)
          val bcL1 = bcastTable(spark, l1)
          val bcL2 = bcastTable(spark, l2)
          (element_at(nearestCellsHier(col("item_vec"), bcL1, bcL2, 1, 1), 1),
            nearestCellsHier(col("query_vec"), bcL1, bcL2, hierP1, hierP2))
        } else {
          val cells = if (numCells > 0) numCells else math.min(4096L, wanted).toInt
          val cents = ivfTrain(spark,
            vecs.select(xxhash64(col("vec_id")).as("vec_id"), col("embedding")),
            numCells = cells, trainSample = trainSample, knownCount = n)
          val bcC = bcastTable(spark, cents)
          (nearestCentroid(col("item_vec"), bcC), nearestCentroids(col("query_vec"), bcC, probes))
        }
      }
    val items = withNorms(vecs, "item").withColumn("cell", itemCell)
    val queries = withNorms(vecs, "query").withColumn("cell", explode(queryCells))
    val bounded = boundOccupancy(spark, items, queries, cellTarget, splitProbes)
    // the cogroup kernel's typed encoders want bigint ids; any other id
    // type keeps the (equivalent, id-type-agnostic) join + window tail
    // the kernel replaced — same candidates, same arithmetic, same
    // order, just row-at-a-time plumbing instead of the local loop
    val scored =
      if (items.schema("item_id").dataType == org.apache.spark.sql.types.LongType)
        cellTopK(spark, bounded.items, bounded.queries, k)
      else
        bounded.items.join(bounded.queries.hint("shuffle_hash"), Seq("ckey"))
          .filter(col("query_id") =!= col("item_id"))
          .withColumn("cos", cosFromNorms(
            col("query_vec"), col("item_vec"), col("query_n"), col("item_n")))
          .filter(col("cos").isNotNull)
          .select(col("query_id"), col("item_id"), col("cos"))
    rankTopK(scored, k)
  }

  // ---- occupancy-bounded cell keys + the per-cell top-k kernel ----

  /** Sub-cell id width in the combined key (cap on how many sub-cells a
    * split can produce) and salt width (cap on hash salts per sub-cell).
    * cell ≤ 2^31, sub < 2^12, salt < 2^10 ⇒ key < 2^53: exact in Long. */
  private[graft] val SubWidth = 4096L
  private[graft] val SaltWidth = 1024L

  private[graft] final case class BoundedSides(
      items: DataFrame,   // ckey:Long, item_id, item_vec, item_n
      queries: DataFrame, // ckey:Long, query_id, query_vec, query_n
      splitCells: Int,    // cells that got a local sub-quantizer
      saltedKeys: Int)    // sub-cells that additionally got hash salts

  /**
   * OCCUPANCY-BOUNDED cell keys — the guard that keeps a clustered
   * corpus from making the cell-partitioned kNN join cluster-quadratic
   * (the r14 2.2M-replica watch item: 1-3 fine cells absorbing 3-5
   * distinct 1100-replica clusters each → 3300-5500-item cells against
   * a ~512 target, candidates ∝ Σ|cell|²).
   *
   * Tier 1 — SPLIT: cells whose occupancy exceeds 4× `cellTarget` get a
   * LOCAL sub-quantizer (one executor-side Lloyd per overfull cell over
   * that cell's own deterministic sample — the [[trainFineDistributed]]
   * discipline), sized ⌈occ/cellTarget⌉ sub-cells. Distinct clusters
   * that the global quantizer failed to resolve separate cleanly (they
   * are far apart in the cell's own geometry), so items meet only their
   * own cluster: the multi-cluster packing term of the candidate volume
   * drops to ~Σ(cluster sizes²) with ~no recall cost. Queries probe
   * `splitProbes` sub-cells to cover boundary candidates.
   *
   * Tier 2 — SALT: a sub-cell STILL above the threshold is a
   * geometrically unsplittable mass (near/exact duplicates — Lloyd
   * cannot separate identical points). Its candidate volume is
   * irreducible for exact-id top-k (every member must be compared
   * against every other to name the exact k nearest), but the per-TASK
   * occupancy is hard-bounded here by hash-salting items across
   * ⌈occ/threshold⌉ salts; queries probe every salt of that sub-cell.
   * Volume is unchanged (it is the task, not overhead) — memory and
   * parallelism stop degenerating with cluster size.
   *
   * Cost: one narrow occupancy aggregation always; the split training
   * pass + a second occupancy aggregation only when an overfull cell
   * exists. All collects are bounded (≤ one row per cell / sub-cell
   * over threshold).
   */
  private[graft] def boundOccupancy(
      spark: SparkSession,
      items: DataFrame,    // cell:Int, item_id, item_vec, item_n
      queries: DataFrame,  // cell:Int, query_id, query_vec, query_n
      cellTarget: Int,
      splitProbes: Int = 2,
      lloydIters: Int = 5): BoundedSides = {
    import spark.implicits._
    val threshold = 4L * cellTarget
    // null cells (null input vectors) carry no scoreable rows — their
    // norms are null too, so the kernel/join drops them — but a
    // null-keyed group would crash the primitive-Int decode below
    val overfull: Map[Int, Long] = items.filter(col("cell").isNotNull)
      .groupBy(col("cell")).agg(count(lit(1)).as("ic"))
      .filter(col("ic") > threshold)
      .as[(Int, Long)].collect().toMap
    if (overfull.isEmpty) {
      return BoundedSides(
        items.withColumn("ckey", col("cell").cast("long")).drop("cell"),
        queries.withColumn("ckey", col("cell").cast("long")).drop("cell"), 0, 0)
    }
    // a split means 2-3 more full passes over the item assignment
    // (training sample, sub-occupancy, final scoring) — materialize it
    // once instead of re-running the cells×dim argmin per pass
    val mat = items.localCheckpoint(true)
    // per-cell sub-quantizer width: one sub-cell per cellTarget members
    val subCount: Map[Int, Int] = overfull.map { case (c, occ) =>
      c -> math.max(2, math.min(SubWidth - 1L, (occ + cellTarget - 1) / cellTarget).toInt)
    }
    // deterministic per-cell training sample targeting ~2× the 64·s
    // take cap per cell (s ≈ occ/cellTarget ⇒ a cell-independent rate
    // of ~128/cellTarget; the 2× headroom keeps the expected sample
    // ABOVE the cap, so sampling variance rarely hands a cell fewer
    // than its 64 points per sub-cell), one corpus-wide hash filter.
    // Ids ride as hashes (hk for take order, sid for the Lloyd seed
    // sort) so the trainer is id-type-agnostic like the join tail.
    val permille = math.min(10000L, math.max(1L, 10000L * 128L / cellTarget))
    val sampled = mat
      .filter(col("cell").isNotNull && col("cell").isInCollection(subCount.keys.toSeq))
      .filter(if (permille >= 10000L) lit(true)
              else pmod(xxhash64(col("item_id"), lit(17)), lit(10000L)) < lit(permille))
      .select(col("cell"), xxhash64(col("item_id"), lit(13)).as("hk"),
        xxhash64(col("item_id"), lit(23)).as("sid"), col("item_vec"))
      .as[(Int, Long, Long, Seq[Float])]
    val trained: Array[(Int, Seq[Seq[Float]])] = sampled
      .groupByKey(_._1)
      // sorted groups pin the take order (the trainFineDistributed rule)
      .flatMapSortedGroups($"hk", $"sid") { (cell, it) =>
        val s = subCount(cell)
        val taken = it.take(64 * s).map(t => (t._3, t._4.toArray)).toArray
        java.util.Arrays.sort(taken, Ordering.by((t: (Long, Array[Float])) => t._1))
        Iterator.single((cell,
          lloydOn(taken, s, lloydIters, parallelAssign = false).map(_.toSeq).toSeq))
      }
      .collect()
    val splitMap = new java.util.HashMap[Integer, Array[Array[Float]]]()
    trained.foreach { case (c, t) => splitMap.put(c, t.map(_.toArray).toArray) }
    val bcSplit = bcastTable(spark, splitMap)
    val itemsSub = mat.withColumn("ckey",
        col("cell").cast("long") * SubWidth +
          element_at(subCells(col("cell"), col("item_vec"), bcSplit, 1), 1).cast("long"))
      .drop("cell")
    val queriesSub = queries.withColumn("sub",
        explode(subCells(col("cell"), col("query_vec"), bcSplit, splitProbes)))
      .withColumn("ckey", col("cell").cast("long") * SubWidth + col("sub").cast("long"))
      .drop("cell", "sub")
    val salted: Map[Long, Int] = itemsSub.filter(col("ckey").isNotNull)
      .groupBy(col("ckey")).agg(count(lit(1)).as("ic"))
      .filter(col("ic") > threshold)
      .as[(Long, Long)].collect().map { case (k0, occ) =>
        k0 -> math.max(2, math.min(SaltWidth - 1L, (occ + threshold - 1) / threshold).toInt)
      }.toMap
    if (salted.isEmpty)
      return BoundedSides(itemsSub, queriesSub, splitMap.size, 0)
    val saltsLit = typedlit(salted) // bounded literal: one entry per salted sub-cell
    // try_element_at, not element_at: most ckeys are NOT in the salt map,
    // and under spark.sql.ansi.enabled a map element_at on a missing key
    // THROWS — the rest of the file stays ANSI-safe (try_divide in
    // cosFromNorms), so the rare salt tier must too
    val itemsOut = itemsSub.withColumn("ckey",
      col("ckey") * SaltWidth +
        when(try_element_at(saltsLit, col("ckey")).isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("item_id"), lit(19)),
            try_element_at(saltsLit, col("ckey")).cast("long"))))
    val queriesOut = queriesSub
      .withColumn("salt", explode(sequence(lit(0L),
        coalesce(try_element_at(saltsLit, col("ckey")), lit(1)).cast("long") - 1L)))
      .withColumn("ckey", col("ckey") * SaltWidth + col("salt"))
      .drop("salt")
    BoundedSides(itemsOut, queriesOut, splitMap.size, salted.size)
  }

  /**
   * Per-cell EXACT top-k kernel: cogroup items and queries on the
   * bounded cell key and scan each cell's items once per prober with a
   * k-slot insertion heap — the same candidates the former
   * shuffle-hash join + window materialized, WITHOUT materializing
   * them as rows. The join shape paid ~127 ns per candidate in row
   * plumbing (r14 attribution, SURVEY.md §7: 3.74e9 candidates = the
   * whole 481 s wall); here a candidate is one primitive-array dot
   * product inside a tight loop, and only ≤k rows per (query, probed
   * cell) ever reach the shuffle that follows.
   *
   * Bit-identical to the join formulation: the dot is the same
   * sequential double accumulation as graft_dot's codegen, norms are
   * the same shipped sqrt(graft_dot(v,v)) doubles, cos = dot/(qn·in)
   * with try_divide's zero-denominator → null and the NaN → null guard
   * ([[cosFromNorms]]) reproduced as skips, and the k-slot order is
   * rankTopK's (cos desc, item_id asc) — a total order, so the result
   * is deterministic under any iteration order. Rows whose norm is
   * NULL (null elements in the vector) are filtered up front — every
   * cos they produced was null and the join path dropped them too.
   *
   * The global top-k then merges the ≤ probes·k survivors per query
   * ([[rankTopK]]), exactly as before — the true top-k within the
   * probed candidate set survives per-cell top-k selection under the
   * same total order, so kernel + merge ≡ join + window, row for row.
   */
  private[graft] def cellTopK(
      spark: SparkSession,
      items: DataFrame,   // ckey, item_id, item_vec, item_n
      queries: DataFrame, // ckey, query_id, query_vec, query_n
      k: Int): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    val its = items.filter(col("item_n").isNotNull)
      .select(col("ckey"), col("item_id"), col("item_vec"), col("item_n"))
      .as[(Long, Long, Array[Float], Double)]
    val qs = queries.filter(col("query_n").isNotNull)
      .select(col("ckey"), col("query_id"), col("query_vec"), col("query_n"))
      .as[(Long, Long, Array[Float], Double)]
    its.groupByKey(_._1).cogroup(qs.groupByKey(_._1)) { (_, itIt, qIt) =>
      if (!qIt.hasNext) Iterator.empty
      else {
        val buf = itIt.toArray
        if (buf.isEmpty) Iterator.empty
        else {
          val m = buf.length
          val ids = new Array[Long](m)
          val vecs = new Array[Array[Float]](m)
          val nrms = new Array[Double](m)
          var i = 0
          while (i < m) {
            val t = buf(i); ids(i) = t._2; vecs(i) = t._3; nrms(i) = t._4; i += 1
          }
          qIt.flatMap { case (_, qid, qv, qn) =>
            val topCos = new Array[Double](k)
            val topId = new Array[Long](k)
            var cnt = 0
            var x = 0
            while (x < m) {
              val iid = ids(x)
              if (iid != qid) {
                val iv = vecs(x)
                if (iv.length == qv.length) {
                  val den = qn * nrms(x) // try_divide: zero denominator → null → skip
                  if (den != 0.0) {
                    var dot = 0.0
                    var j = 0
                    val d = iv.length
                    while (j < d) { dot += qv(j).toDouble * iv(j).toDouble; j += 1 }
                    val c = dot / den
                    if (c == c) { // NaN → null → skip (cosFromNorms's guard)
                      if (cnt < k || c > topCos(cnt - 1) ||
                          (c == topCos(cnt - 1) && iid < topId(cnt - 1))) {
                        var pos = if (cnt < k) cnt else k - 1
                        while (pos > 0 && (c > topCos(pos - 1) ||
                            (c == topCos(pos - 1) && iid < topId(pos - 1)))) {
                          topCos(pos) = topCos(pos - 1); topId(pos) = topId(pos - 1); pos -= 1
                        }
                        topCos(pos) = c; topId(pos) = iid
                        if (cnt < k) cnt += 1
                      }
                    }
                  }
                }
              }
              x += 1
            }
            Iterator.tabulate(cnt)(y => (qid, topId(y), topCos(y)))
          }
        }
      }
    }.toDF("query_id", "item_id", "cos")
  }

  /**
   * Semantic clustering over the mutual-kNN graph: two vectors are
   * linked when EACH is in the other's k nearest neighbors (the
   * mutual filter is the standard hub guard — a hub vector near
   * everything links only the neighbors that reciprocate), and
   * clusters are the connected components of that graph — min-id
   * labels, singletons label themselves. The corpus-level structure
   * report a curation pipeline builds on top of [[knnJoin]]:
   * over-represented semantic clusters, diversity sampling strata.
   *
   * Scale shape: [[knnJoin]]'s dispatch (exact under the brute bound,
   * IVF shuffle join above — nothing corpus-sized broadcast), one
   * self-join of the k·N directed edge list on the reversed pair
   * (fixed-width id keys) for mutuality, then log-round star
   * contraction ([[Dedup.connectedComponents]]).
   */
  def mutualKnnClusters(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      probes: Int = 3,
      bruteBound: Long = graft.operators.Dedup.LowThresholdBruteBound
  ): DataFrame = {
    val edges = knnJoin(df, idCol, vecCol, k, probes = probes, bruteBound = bruteBound)
      .select(col("query_id"), col("item_id"))
    // mutual + canonical direction in one pass: keep a < b, require b→a
    val directed = edges.filter(col("query_id") < col("item_id"))
      .select(col("query_id").as("id_a"), col("item_id").as("id_b"))
    val reverse = edges.filter(col("query_id") > col("item_id"))
      .select(col("item_id").as("id_a"), col("query_id").as("id_b"))
    val mutual = directed.join(reverse.hint("shuffle_hash"), Seq("id_a", "id_b"), "left_semi")
    val comp = Dedup.connectedComponents(mutual)
      .select(col("id").as(idCol), col("component").as("cluster_id"))
    df.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /**
   * Persist the IVF index: the trained centroid table (bounded
   * metadata, one tiny parquet) plus the full corpus assignment
   * PARTITIONED BY CELL. Search against the stored index then reads
   * only the probed cells' files — at corpus scale the difference
   * between scanning probes/numCells of the data and all of it, and
   * the assignment pass (the expensive full scan) runs once per corpus
   * version instead of once per query batch.
   */
  def buildIvfIndex(
      spark: SparkSession,
      corpus: DataFrame,
      path: String,
      numCells: Int = 16,
      lloydIters: Int = 5,
      trainSample: Long = 20000L
  ): Unit = buildIvf(spark, corpus, path, numCells, lloydIters, trainSample, None)

  /**
   * Persisted IVF-PQ index — the 100 TB serving layout for vectors:
   * the coarse IVF quantizer prunes the search to probed cells
   * (partition-pruned scan, as [[buildIvfIndex]]), and the cells hold
   * PQ CODES instead of raw vectors — m ints per item, so the index is
   * ~dim·4/m times smaller than the raw corpus and the scored pass
   * reads codes only. Raw vectors stay in the source table and are
   * read back ONLY for the rerank-bounded candidates ([[pqTopK]]'s
   * two-stage discipline). Codes quantize the ABSOLUTE vectors (flat
   * PQ under IVF pruning): ADC tables are then per-QUERY (m ×
   * codebookSize doubles), not per-(query, cell) — residual encoding
   * would buy some accuracy at the cost of per-probed-cell cross
   * tables; the rerank stage already restores exactness where it
   * matters.
   *
   * The one IVF build ([[buildIvf]]) with codes as its extra step: the
   * coarse quantizer's training sample also trains the codebooks.
   * Layout: `path/centroids` (coarse table), `path/codebooks`
   * (sub, code, vec — m·codebookSize rows), `path/codes`
   * (cell-partitioned (item_id, codes)), `path/stats` (drift frame,
   * same contract as the IVF index), `path/meta` (m, codebook_size,
   * num_cells) written LAST as the completeness marker.
   */
  def buildIvfPqIndex(
      spark: SparkSession,
      corpus: DataFrame,
      path: String,
      numCells: Int = 16,
      m: Int = 8,
      codebookSize: Int = 16,
      lloydIters: Int = 5,
      trainSample: Long = 20000L
  ): Unit = buildIvf(spark, corpus, path, numCells, lloydIters, trainSample, Some((m, codebookSize)))

  /**
   * The one build of both index families; `pq` = (m, codebookSize)
   * makes the cells hold codes. It wipes the old index first
   * ([[wipeAdmissionState]]: shards the OLD quantizer assigned must not
   * be served under new centroids or folded by a later promotion), and
   * ONE sample collect ([[scaledTrainSample]] rows) trains the coarse
   * quantizer and the codebooks. Writes, in order: `centroids` (+
   * `codebooks`), seeded into [[graft.core.DirCache]] so the first
   * append/search pays no read job; the cell-rebalanced `assignments`
   * or `codes`; the id Bloom; `stats`; and, for IVF-PQ, `meta` last.
   */
  private def buildIvf(
      spark: SparkSession,
      corpus: DataFrame,
      path: String,
      numCells: Int,
      lloydIters: Int,
      trainSample: Long,
      pq: Option[(Int, Int)]
  ): Unit = {
    import spark.implicits._
    wipeAdmissionState(spark, path)
    val base = items(corpus)
    val (cents, codebooks) = graft.core.Jobs.desc(spark, "ann:build:train") {
      val sample = collectSample(base, scaledTrainSample(trainSample, numCells), -1L)
      (lloydOn(sample, numCells, lloydIters),
        pq.map { case (m, size) => pqTrainOn(sample, m, size, lloydIters) })
    }
    def writeTable(df: DataFrame, dir: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$path/$dir")
    graft.core.Jobs.desc(spark, "ann:build:centroids") {
      writeTable(cents.zipWithIndex.toSeq.map { case (v, i) => (i, v) }.toDF("cell", "centroid"), "centroids")
      codebooks.foreach(cb => writeTable(cb.zipWithIndex.toSeq
        .flatMap { case (t, sub) => t.zipWithIndex.map { case (v, c) => (sub, c, v) } }
        .toDF("sub", "code", "vec"), "codebooks"))
    }
    // the in-memory tables ARE what the loaders read back
    graft.core.DirCache.put(spark, s"$path/centroids", cents)
    codebooks.foreach(graft.core.DirCache.put(spark, s"$path/codebooks", _))
    val store = if (codebooks.isEmpty) "assignments" else "codes"
    val rows = graft.core.Jobs.desc(spark, "ann:build:assign") {
      // cell-keyed REBALANCE before the partitioned write (the Iceberg
      // hash write-distribution discipline): a scan-partitioned write
      // fans every task across every cell it holds — at corpus scale
      // O(splits × cells) near-empty files (a 10⁹-row corpus at
      // n/2048 cells would write ~100k files PER TASK); clustered, the
      // base holds ~1 file per cell. Rebalance instead of a plain
      // repartition(cell) (r17, guide §2.5): hash-by-cell routes each
      // cell to exactly ONE task, so a hot cell of a skewed corpus
      // becomes one straggler task writing one giant file — AQE's
      // rebalance splits an oversized cell at the advisory partition
      // size (bounded files per hot cell, bounded task times) and
      // coalesces tiny cells into shared tasks (still one file per
      // cell dir — partitionBy splits them on write). Without AQE it
      // degrades to exactly the old hash exchange. Assignment (and
      // encoding) still computes map-side, in the scan's parallelism,
      // before the exchange.
      val assigned = base.withColumn("cell", nearestCentroid(col("item_vec"), bcastTable(spark, cents)))
      graft.core.Jobs.observedWrite(
          codebooks.fold(assigned)(asCodes(assigned, _)).hint("rebalance", col("cell"))) {
        _.write.mode("overwrite").partitionBy("cell").parquet(s"$path/$store")
      }
    }
    // the codes base gets the sidecar too: promotion refreshes it
    // family-agnostically
    graft.core.Jobs.desc(spark, "ann:build:bloom") {
      writeIdBloom(spark, s"$path/$store", rows)
    }
    // train-time dispersion: the p95 quantization error over the corpus
    // (approx_percentile — one mergeable pass; a heuristic threshold,
    // not a gated value). New vectors landing mostly beyond it mean the
    // quantizer no longer describes the data — the re-train trigger
    // ivfDriftFraction thresholds against.
    graft.core.Jobs.desc(spark, "ann:build:stats") {
      dispersionStats(corpus, "embedding", cents)
        .write.mode("overwrite").parquet(s"$path/stats")
      pq.foreach { case (m, size) =>
        writeTable(Seq((m, size, numCells)).toDF("m", "codebook_size", "num_cells"), "meta")
      }
    }
  }

  /** Assigned rows (item_id, item_vec, cell) as the code rows of an
    * IVF-PQ index: (item_id, codes, cell), encoded against `codebooks`. */
  private def asCodes(assigned: DataFrame, codebooks: Array[Array[Array[Float]]]): DataFrame =
    assigned
      .withColumn("codes", pqEncode(col("item_vec"), bcastTable(assigned.sparkSession, codebooks)))
      .select(col("item_id"), col("codes"), col("cell"))

  /** Load persisted PQ codebooks in (sub, code) order. Cached per dir
    * fingerprint (see [[loadIvfCentroids]] — same per-trigger re-read
    * shape on the PQ admission/search paths). */
  def loadPqCodebooks(spark: SparkSession, path: String): Array[Array[Array[Float]]] =
    graft.core.DirCache.cached(spark, s"$path/codebooks") {
      val rows = spark.read.parquet(s"$path/codebooks")
        .orderBy(col("sub"), col("code"))
        .collect()
      rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray) }
        .toArray
    }

  /**
   * Search the persisted IVF-PQ index: probed cells resolved
   * driver-side (bounded query batch) and applied as a static
   * partition filter — the codes scan reads ONLY those cells' files;
   * ADC scoring over the scanned codes; exact re-rank reads raw
   * vectors from `corpus` for the rerank-bounded candidates only.
   * With `probes = numCells` and `rerank` ≥ |corpus| the result
   * provably equals brute force (the gate's property).
   */
  def searchIvfPqIndex(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      probes: Int = 4,
      rerank: Int = 32
  ): DataFrame = {
    graft.sql.GraftFunctions.installTopKStrategy(spark)
    import spark.implicits._
    val cents = loadIvfCentroids(spark, path)
    val codebooks = loadPqCodebooks(spark, path)
    val kk = codebooks(0).length

    val qRows = queryRows(queries)
    // per-QUERY probed cells from driver-side distances to the (bounded)
    // coarse table, by the kernel searchIvfIndex's nearestCentroids runs
    // (same squared-L2, same (distance, cell) tie order): the union
    // prunes the scan (static partition filter), the per-query pairs
    // restrict SCORING to each query's own cells — without the pairing,
    // a batch of queries would near-exhaustively score the union of
    // everyone's cells (the searchIvfIndex join semantics, mirrored here)
    val queryProbePairs = qRows.flatMap { case (qid, qv) =>
      graft.functions.expressions.VectorOps.nearestK(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(qv), cents, probes)
        .toIntArray().map(c => (qid, c))
    }.toSeq
    val probeCells = queryProbePairs.map(_._2).distinct
    val qdf = pqQueryTables(qRows, codebooks).toSeq
      .toDF("query_id", "query_vec", "dots", "norms2", "qnorm")
    val cellFilter = col("cell").isin(probeCells.map(Integer.valueOf): _*)
    // admitted delta shards (appendToIvfIndex on a PQ index) serve
    // under the SAME probed-cell partition filter
    val codes = probedStore(spark, path, "codes", Seq("item_id", "codes", "cell"), cellFilter)
    adcRerank(codes, qdf, kk, rerank, corpus, k,
      perQueryCells = Some(queryProbePairs.toDF("query_id", "cell")))
  }

  /**
   * Shared ADC-score + exact-re-rank tail of both PQ search paths
   * ([[pqTopK]] in-memory, [[searchIvfPqIndex]] persisted) — ONE copy,
   * so a scoring fix cannot silently diverge between them. `codes`
   * rows are (item_id, codes[, cell]); `qdf` carries the
   * [[pqQueryTables]] columns; `perQueryCells` (query_id, cell) pairs,
   * when given, restrict scoring to each query's own probed cells.
   * A NaN ADC score (zero-norm query, or an item whose reconstruction
   * is all zero codewords) ranks LAST instead of being dropped: the
   * exact re-rank — not the approximation — must decide such items,
   * or an unlimited-pool run could disagree with brute force on a
   * tiny-but-nonzero vector.
   */
  private def adcRerank(
      codes: DataFrame,
      qdf: DataFrame,
      kk: Int,
      rerank: Int,
      corpus: DataFrame,
      k: Int,
      perQueryCells: Option[DataFrame] = None
  ): DataFrame = {
    val paired = perQueryCells match {
      case Some(qp) => codes.join(broadcast(qp.join(qdf, "query_id")), Seq("cell"))
      case None => codes.crossJoin(broadcast(qdf))
    }
    val adcW = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("item_id").asc)
    val cands = paired
      .filter(col("query_id") =!= col("item_id"))
      .withColumn("adc", nanvl(GraftFunctions.call("graft_pq_adc_cosine",
        col("codes"), col("dots"), col("norms2"), col("qnorm"), lit(kk)),
        lit(Double.NegativeInfinity)))
      .withColumn("arank", row_number().over(adcW))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("item_id"), col("query_vec"))
    // exact re-rank: the inner join reads raw vectors ONLY for candidate
    // rows (candidates are queries × rerank — AQE broadcasts them), so
    // the corpus-sized vector column is never shuffled
    val reranked = cands
      .join(items(corpus), Seq("item_id"))
      .withColumn("cos", GraftFunctions.call("graft_cosine", col("query_vec"), col("item_vec")))
      .filter(col("cos").isNotNull)
    rankTopK(reranked, k)
  }

  /** The 1-row train-time dispersion frame (p95 quantization error) —
    * shared by the batch index and the streaming quantizer so the
    * drift statistic cannot diverge between them. */
  private[graft] def dispersionStats(
      vecs: DataFrame, vecCol: String, cents: Array[Array[Float]]): DataFrame =
    vecs
      .select(nearestCentroidDist(
        col(vecCol), bcastTable(vecs.sparkSession, cents)).as("d"))
      .agg(expr("approx_percentile(d, 0.95)").as("p95_dist"))
      .coalesce(1)

  /** Fraction of `vecs` whose quantization error exceeds `p95` — the
    * drift measurement (one narrow pass over the given frame only). */
  private[graft] def overP95Fraction(
      vecs: DataFrame, vecCol: String, cents: Array[Array[Float]], p95: Double): Double = {
    val r = vecs
      .select((nearestCentroidDist(
        col(vecCol), bcastTable(vecs.sparkSession, cents)) > p95).cast("double").as("over"))
      .agg(avg(col("over"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /**
   * Index-drift probe: the fraction of `newVecs` whose quantization
   * error (squared-L2 distance to their nearest stored centroid)
   * exceeds the index's train-time p95. By construction ~0.05 on
   * same-distribution data; a batch from a shifted distribution pushes
   * it toward 1. One narrow pass over the NEW vectors only — bounded
   * by the batch, never the corpus. An index with NO stats (built
   * before stats existed, or a build that died mid-write) reports 1.0
   * — "cannot trust the quantizer" — so refreshIvfIndexIfDrifted heals
   * it with a rebuild instead of crashing on the missing file.
   */
  def ivfDriftFraction(spark: SparkSession, path: String, newVecs: DataFrame): Double = {
    driftBasis(spark, path).fold(1.0) { case (cents, p95) =>
      graft.core.Jobs.desc(spark, "ann:drift")(overP95Fraction(newVecs, "embedding", cents, p95))
    }
  }

  /** [[ivfDriftFraction]] of vectors held on the driver (NULL vectors
    * skipped, as `avg` skips them): the same kernel and the same SQL
    * comparison, so the same fraction, with no job. */
  private[graft] def ivfDriftFractionLocal(
      spark: SparkSession, path: String, newVecs: Seq[Array[Float]]): Double =
    driftBasis(spark, path).fold(1.0) { case (cents, p95) =>
      val ds = newVecs.filter(_ != null).map(v =>
        graft.functions.expressions.VectorOps.nearestDist2(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), cents))
      if (ds.isEmpty) 0.0
      else ds.count(d => org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(d, p95) > 0)
        .toDouble / ds.length
    }

  /** The stored centroids and train-time p95, both driver-cached; None
    * for an index without stats. */
  private def driftBasis(spark: SparkSession, path: String): Option[(Array[Array[Float]], Double)] = {
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) None
    else graft.core.Jobs.desc(spark, "ann:drift") {
      val cents = loadIvfCentroids(spark, path)
      // p95 cached like the centroids: one number re-read per trigger
      val p95 = graft.core.DirCache.cached(spark, statsPath.toString) {
        java.lang.Double.valueOf(
          spark.read.parquet(statsPath.toString).head().getDouble(0))
      }.doubleValue()
      Some((cents, p95))
    }
  }

  /**
   * The re-train condition, as an operation: if the combined corpus's
   * NEW portion has drifted past `driftFraction` (see
   * [[ivfDriftFraction]]), re-quantize — rebuild the whole index from
   * `corpus` through the one build ([[buildIvf]]: train + assign +
   * stats, one corpus pass exactly like the original build) and return
   * true; otherwise leave the index untouched (false). The rebuild
   * keeps the index's family: an IVF-PQ index is rebuilt as IVF-PQ,
   * with m and the codebook size of its stored codebooks, so its codes
   * carry the new quantizer's cells. Streaming ingest calls this at its
   * natural maintenance point (compaction / every N batches) so probe
   * recall cannot silently degrade as the distribution moves.
   */
  def refreshIvfIndexIfDrifted(
      spark: SparkSession,
      corpus: DataFrame,
      newVecs: DataFrame,
      path: String,
      driftFraction: Double = 0.5,
      numCells: Int = 16,
      lloydIters: Int = 5,
      trainSample: Long = 20000L
  ): Boolean = {
    val drifted = ivfDriftFraction(spark, path, newVecs) > driftFraction
    if (drifted) {
      val pq = Option.when(vecDirs(spark, path)._1 == "codes")(loadPqCodebooks(spark, path))
        .map(cb => (cb.length, cb(0).length))
      buildIvf(spark, corpus, path, numCells, lloydIters, trainSample, pq)
    }
    drifted
  }

  /**
   * The delta side of a stored-index read: committed shard dirs ONLY
   * (explicit paths — a crashed append's partial files without
   * `_SUCCESS` must never be served; the root read would pick them up
   * through partition discovery), `basePath` keeping `cell` a
   * discovered partition column so the probed-cell filter still prunes
   * at file level. Returns None when no committed shard holds data.
   *
   * An item can sit in base AND delta only inside [[promoteIvfDelta]]'s
   * crash window, so callers collapse identity only while
   * [[graft.core.ShardStore.folding]] holds: the steady delta state (the
   * normal daily shape) stays shuffle-free. Shard-name uniqueness is the
   * admission contract ([[appendToIvfIndex]]); a re-used name is not
   * insured here.
   */
  private[graft] def deltaSide(
      spark: SparkSession, path: String, deltaDir: String, cols: Seq[String]
  ): Option[DataFrame] = {
    val dirs = graft.core.ShardStore.committed(spark, s"$path/$deltaDir")
    if (dirs.isEmpty) None
    else Some(
      graft.core.DirCache.reader(spark, s"$path/$deltaDir").option("basePath", s"$path/$deltaDir")
        .parquet(dirs.map(_.toString).toIndexedSeq: _*)
        .select(cols.map(col): _*))
  }

  /** The probed cells of a stored index's `<store>` (`assignments` or
    * `codes`) ∪ its committed `<store>_delta` shards, both under
    * `cellFilter`. Identity collapses only while a crashed promotion's
    * staged state survives (see [[deltaSide]]): the steady delta state
    * pays no extra shuffle. */
  private def probedStore(spark: SparkSession, path: String, store: String, cols: Seq[String],
      cellFilter: Column): DataFrame = {
    val base = spark.read.parquet(s"$path/$store").filter(cellFilter)
    deltaSide(spark, path, s"${store}_delta", cols) match {
      case None => base
      case Some(delta) =>
        val unioned = base.unionByName(delta.filter(cellFilter))
        if (graft.core.ShardStore.folding(spark, path)) unioned.dropDuplicates(Seq("item_id"))
        else unioned
    }
  }

  /** Rebuild preamble of the one build ([[buildIvf]]), for either
    * family over an index of either family: delete the completion
    * markers FIRST (`stats` is the plain build's LAST write, so
    * stats-present ⇔ a complete plain-IVF index — the predicate
    * [[graft.streaming.StreamingVectorAdmit]]'s crash recovery keys on;
    * the PQ build's own marker is `meta`, written after stats), then
    * the quantizer (probes refuse until the rebuild completes) and the
    * codebooks (whose presence names the PQ family, [[vecDirs]]), then
    * both families' base dirs, so no row of the other family survives,
    * and every admission artifact the old quantizer assigned — both
    * delta trees and any staged promotion. */
  private def wipeAdmissionState(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("stats", "meta", "centroids", "codebooks", "assignments", "codes",
      "assignments_delta", "codes_delta", graft.core.ShardStore.Marker)
      .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(root, d), true))
  }

  // ---- id Bloom sidecars: delta-sized novelty probes ----

  /** Sidecar filename inside a written assignments/codes/shard dir —
    * the underscore keeps it invisible to parquet directory reads. */
  private[graft] val IdBloomFile = "_ids_bloom"
  private val IdBloomFpp = 0.03

  /**
   * Write the id Bloom sidecar for the rows just written under `dir`
   * (read back column-pruned — one narrow id pass at WRITE time). What
   * it buys: the streaming-admission novelty probe stops scanning the
   * corpus-length base id column on every trigger — a Bloom has NO
   * false negatives, so "not held" verdicts are exact with zero base
   * reads, and the fp-rate-sized "maybe held" remainder verifies
   * against the real id column. 3% fpp ≈ 7.3 bits/id at any size
   * ([[graft.core.BloomSidecar.build]] is unclamped): a 10⁹-row base's
   * sidecar is ~0.9 GB read once per trigger vs. decoding the full id
   * column every trigger, and per-shard sidecars stay batch-sized.
   * Crash-safe by placement (see [[graft.core.BloomSidecar]]): a crash
   * between data and sidecar writes leaves a sidecar-less dir, and the
   * probe falls back to the exact full scan.
   */
  private[graft] def writeIdBloom(
      spark: SparkSession, dir: String, knownRows: Long = -1L): Unit = {
    // an admitted EMPTY batch commits _SUCCESS with zero data files —
    // such a dir cannot infer a schema (and is excluded from probes by
    // the same predicate), so it gets no sidecar
    if (!graft.core.ShardStore.isCommitted(spark, dir)) return
    // sizing count: callers that just WROTE the dir pass the count
    // their write observed (an Observation rides the write job — zero
    // extra cost); anyone else pays one driver-side footer pass (exact
    // row counts, no Spark job, ~15 ms/file). Either way the only job
    // here is the bloom aggregation's id-column read — the
    // irreducible work.
    val n = if (knownRows >= 0L) knownRows
            else graft.core.DirCache.parquetRowCount(spark, dir)
    val ids = graft.core.DirCache.reader(spark, dir).parquet(dir).select(col("item_id"))
    val bf = graft.core.Jobs.desc(spark, "ann:bloom:agg") {
      graft.core.BloomSidecar.build(ids, math.max(1L, n), IdBloomFpp)
    }
    graft.core.BloomSidecar.write(spark, dir, IdBloomFile, bf)
  }

  /** The sidecar of `dir`, if present and readable (absent on
    * pre-sidecar indexes or after a crash between the data and sidecar
    * writes — callers fall back to the exact id-column scan). */
  private[graft] def readIdBloom(
      spark: SparkSession, dir: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    graft.core.BloomSidecar.read(spark, dir, IdBloomFile)

  /** The stored centroid table of [[buildIvfIndex]], cell-ordered.
    * Cached per dir fingerprint: admission/drift/search re-load it per
    * trigger, and the table is bounded (≤ ~1500 coarse cells). */
  def loadIvfCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    graft.core.DirCache.cached(spark, s"$path/centroids") {
      spark.read.parquet(s"$path/centroids")
        .orderBy(col("cell"))
        .collect()
        .map(_.getSeq[Float](1).toArray)
    }

  /** Committed delta shard dirs of a persisted IVF index (see
    * [[graft.core.ShardStore]]): a crashed append leaves no `_SUCCESS`
    * and its replay overwrites the dir. */
  private[graft] def readableVecShardDirs(
      spark: SparkSession, path: String
  ): Array[org.apache.hadoop.fs.Path] =
    graft.core.ShardStore.committed(spark, s"$path/${vecDirs(spark, path)._2}")

  /** The (base, delta) dirs of the index at `path`: `codes`/`codes_delta`
    * for an IVF-PQ index (codebooks present — the index rows are codes),
    * `assignments`/`assignments_delta` for a plain IVF index. One
    * resolution shared by admission, promotion, search, and the SQL
    * surface, so the two index families expose ONE lifecycle. */
  private[graft] def vecDirs(spark: SparkSession, path: String): (String, String) = {
    val cb = new org.apache.hadoop.fs.Path(s"$path/codebooks/_SUCCESS")
    val fs = cb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(cb)) ("codes", "codes_delta") else ("assignments", "assignments_delta")
  }

  /**
   * Admit new vectors into a persisted IVF index WITHOUT rebuilding it
   * — the vector twin of the text index's shard admission
   * ([[graft.operators.Dedup.appendToTextIndex]]): between quantizer
   * rebuilds, the daily batch becomes searchable by one narrow
   * assignment pass over the NEW vectors only. Each shard's rows land
   * cell-partitioned under `assignments_delta/shard=<name>` (or, for
   * an IVF-PQ index, encoded with the existing codebooks under
   * `codes_delta/shard=<name>` — see [[vecDirs]]; both families,
   * one lifecycle) — its own dir, overwritten on replay, so a re-run
   * failed admission converges instead of double-carrying items. The
   * base rows are never rewritten; search unions base + delta under
   * the same probed-cell partition filter.
   *
   * Assignment uses the EXISTING centroids, so exhaustive search stays
   * exact by construction; what drifted data degrades is probe-limited
   * recall — measure with [[ivfDriftFraction]] (or use [[admitVectors]],
   * which folds the check in) and schedule a rebuild when it trips.
   * Shard names must be unique per admission batch (re-using a name
   * mid-[[promoteIvfDelta]] hands the promotion snapshot rows the
   * replay no longer owns).
   */
  def appendToIvfIndex(
      newVecs: DataFrame,
      path: String,
      shard: String
  ): Unit = appendToIvfIndex(newVecs, path, shard, None)

  /** [[appendToIvfIndex]]; with `heldIds` (the non-NULL ids of
    * `newVecs`), `newVecs` is a driver-local frame of rows the caller
    * holds: the assignment folds into it on the driver, its rows are
    * sorted by cell so that each of the local scan's contiguous slices
    * writes a few cells (about one file per cell, as the rebalance
    * gives), and the id sidecar is built from `heldIds` by
    * [[graft.core.BloomSidecar.build]]'s driver form, whose filter is
    * byte-identical to the read-back's. The shard's only job is its
    * write. */
  private[graft] def appendToIvfIndex(
      newVecs: DataFrame,
      path: String,
      shard: String,
      heldIds: Option[Seq[Long]]
  ): Unit = {
    require(shard.nonEmpty, "shard name must be non-empty")
    val spark = newVecs.sparkSession
    // loadIvfCentroids throws on a geometry-less index (no centroids
    // dir): an append must never invent its own quantizer
    val cents = loadIvfCentroids(spark, path)
    val (_, deltaDir) = vecDirs(spark, path)
    val dir = s"$path/$deltaDir/${graft.core.ShardStore.dirName(shard)}"
    // CELL-keyed rebalance instead of spread()'s round-robin exchange
    // (same single-shuffle cost): a partitionBy("cell") write fans each
    // task out across every cell it holds, so a round-robin layout
    // writes O(tasks × cells) small files per shard — the cell-keyed
    // layout writes ~1 file per populated cell, the whole shard stays
    // list-cheap, and the read-back (bloom sidecar, probes) scans a
    // bounded file count. Rebalance (not repartition — see
    // buildIvf) additionally splits a hot cell of a skewed batch
    // instead of handing it to one straggler task. The assignment
    // expression still evaluates map-side (before the exchange), in
    // the source's own parallelism.
    val cells = items(newVecs)
      .withColumn("cell", nearestCentroid(col("item_vec"), bcastTable(spark, cents)))
    val assigned =
      if (heldIds.isEmpty) cells.hint("rebalance", col("cell"))
      else {
        import scala.jdk.CollectionConverters._
        val sorted = cells.collect().sortBy(r => if (r.isNullAt(2)) -1 else r.getInt(2))
        spark.createDataFrame(sorted.toSeq.asJava, cells.schema)
      }
    // family dispatch: an IVF-PQ index stores CODES, so its delta does
    // too — the new batch is encoded with the EXISTING codebooks (the
    // same one-narrow-pass discipline; code quality for drifted data
    // degrades ADC ordering only, and the exact re-rank stage is what
    // rules accuracy — the drift probe still owns the rebuild decision)
    val (step, rows) =
      if (deltaDir == "codes_delta")
        ("ann:append:encode+write", asCodes(assigned, loadPqCodebooks(spark, path)))
      else ("ann:append:assign+write", assigned)
    val n = graft.core.Jobs.desc(spark, step) {
      graft.core.Jobs.observedWrite(rows)(_.write.mode("overwrite").partitionBy("cell").parquet(dir))
    }
    graft.core.Jobs.desc(spark, "ann:append:bloom")(heldIds match {
      // no row, no data file: no sidecar (writeIdBloom's committed check)
      case Some(ids) => if (n > 0L)
        graft.core.BloomSidecar.write(spark, dir, IdBloomFile,
          graft.core.BloomSidecar.build(ids, n, IdBloomFpp))
      case None => writeIdBloom(spark, dir, n)
    })
  }

  /**
   * The admission operation a maintenance job runs: measure the new
   * batch's drift against the index's train-time p95
   * ([[ivfDriftFraction]] — one narrow pass over the batch), append it
   * as a delta shard either way (the append is exact regardless;
   * drift degrades probe recall, not correctness), and return whether
   * the drift threshold tripped — the caller's signal to schedule a
   * full rebuild ([[buildIvfIndex]] over the complete corpus) instead
   * of another promotion cycle.
   */
  def admitVectors(
      newVecs: DataFrame,
      path: String,
      shard: String,
      driftFraction: Double = 0.5
  ): Boolean =
    admitVectorsMeasured(newVecs, path, shard) > driftFraction

  /** As [[admitVectors]], returning the measured drift fraction itself
    * (the SQL surface reports it verbatim — one admission
    * implementation for both entry points). */
  def admitVectorsMeasured(newVecs: DataFrame, path: String, shard: String): Double = {
    val drift = ivfDriftFraction(newVecs.sparkSession, path, newVecs)
    appendToIvfIndex(newVecs, path, shard)
    drift
  }

  /**
   * Fold accumulated delta shards into the base assignments — the
   * vector twin of [[graft.operators.Dedup.promoteTextIndexDelta]], on
   * the same [[graft.core.ShardStore.fold]] protocol (home `<path>`,
   * tree `<path>/<delta dir>`). Promotion never re-assigns a vector:
   * the delta rows already carry their cells, so the cost is one
   * shuffle-free union rewrite of the assignment rows, not a corpus
   * re-quantization. Inside the fold's double-carry window,
   * [[searchIvfIndex]]'s delta branch collapses candidate identity, so
   * search stays exact. The base overwrite itself is the maintenance
   * window (same contract as the text index's table rebuild): a search
   * racing the rewrite can see a partial base — schedule promotion off
   * the query path.
   */
  def promoteIvfDelta(spark: SparkSession, path: String): Unit =
    promoteIvfDeltaImpl(spark, path, () => ())

  /** [[promoteIvfDelta]] with a test seam: `afterStage` runs between
    * the staged-merge write and the base rewrite + snapshot cleanup —
    * the window a concurrent admission must survive. Returns the
    * number of shards folded. */
  private[graft] def promoteIvfDeltaImpl(
      spark: SparkSession, path: String, afterStage: () => Unit): Int = {
    // family dispatch: the PQ index promotes codes rows into `codes`,
    // the plain index assignment rows into `assignments` — one
    // protocol, two row shapes
    val (baseDir, deltaDir) = vecDirs(spark, path)
    val dataCols = Seq("item_id", if (baseDir == "codes") "codes" else "item_vec", "cell").map(col)
    graft.core.ShardStore.fold(spark, path, Seq(s"$path/$deltaDir"), afterStage) { (stage, snap) =>
      // explicit committed dirs with basePath: multiple shard roots
      // without it are "conflicting directory structures" to
      // partition inference (each root IS a partition dir); with it,
      // shard and cell are both discovered and dataCols drops shard
      val deltaRows = graft.core.DirCache.reader(spark, s"$path/$deltaDir")
        .option("basePath", s"$path/$deltaDir")
        .parquet(snap.map(_.toString).toIndexedSeq: _*)
      graft.core.Jobs.desc(spark, "ann:promote:stage") {
        graft.core.DirCache.reader(spark, s"$path/$baseDir").parquet(s"$path/$baseDir")
          .unionByName(deltaRows.select(dataCols: _*))
          // a prior crash window may have merged rows whose shard dir
          // survived; items are identity-keyed, duplicates collapse
          .dropDuplicates(Seq("item_id"))
          // FLAT staging (r17): the stage is transient scratch that
          // only the base-rewrite (and a crash resume) reads fully —
          // a partitionBy("cell") here fanned every dedup task across
          // every cell it held, O(tasks × cells) staging files at
          // corpus scale for a dir that is deleted minutes later.
          // Written flat, `cell` stays a data column (same rows) and
          // the stage holds one file per task.
          .write.mode("overwrite").parquet(stage)
      }
    } { stage =>
      val baseRows = graft.core.Jobs.desc(spark, "ann:promote:base-rewrite") {
        // the rewrite IS the compaction opportunity: cell-cluster the
        // lasting base layout (~1 file per cell, hot cells split at the
        // advisory size — see buildIvf)
        graft.core.Jobs.observedWrite(
            graft.core.DirCache.reader(spark, stage).parquet(stage).hint("rebalance", col("cell"))) {
          _.write.mode("overwrite").partitionBy("cell").parquet(s"$path/$baseDir")
        }
      }
      // the base overwrite wiped the old sidecar with the old data; the
      // fresh one must cover the folded ids before the shard dirs (and
      // their own sidecars) disappear — a crash in between leaves a
      // sidecar-less base, which probes fall back to scanning exactly
      graft.core.Jobs.desc(spark, "ann:promote:bloom") {
        writeIdBloom(spark, s"$path/$baseDir", baseRows)
      }
    }
  }

  /**
   * Probe-limited search against a PERSISTED index: the probed cell
   * set is resolved first (queries are bounded, so it is driver-side
   * metadata) and applied as a static partition filter — the scan
   * reads only those cells' files, verified in OperatorSpec via the
   * files the plan actually lists. An index carrying admitted delta
   * shards ([[appendToIvfIndex]]) serves base ∪ delta under the SAME
   * cell filter (cell is a partition column at both depths, so the
   * delta scan prunes identically), reading committed shard dirs only;
   * while a crashed [[promoteIvfDelta]]'s staged state survives (an
   * item briefly in base AND delta) the delta branch collapses item
   * identity, so a neighbor can never double-rank — and the steady
   * delta state pays no collapse shuffle (see [[deltaSide]]).
   */
  def searchIvfIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      probes: Int = 4
  ): DataFrame = {
    graft.sql.GraftFunctions.installTopKStrategy(spark)
    val queryProbes = probeCellsOf(queries, bcastTable(spark, loadIvfCentroids(spark, path)), probes)
    val probeCells = graft.core.Jobs.desc(spark, "ann:search:probe-cells") {
      queryProbes.select(col("cell")).distinct().collect().map(_.getInt(0))
    }
    val cellFilter = col("cell").isin(probeCells.toIndexedSeq.map(Integer.valueOf): _*)
    val stored = probedStore(spark, path, "assignments", Seq("item_id", "item_vec", "cell"), cellFilter)
    rankTopK(scoreProbed(stored, queryProbes), k)
  }

  /**
   * Exact top-k over the SAME probed-cell candidate set, computed
   * through a deliberately different physical path (agg-side
   * array_sort/slice instead of the ranked-window / TopKPerKeyExec
   * plan). `ivfSearch` ≡ `ivfProbedTruth` row-for-row is the
   * mechanism-correctness property the driver gate hashes for
   * q_ann_ivf — it cross-checks the heap operator against a sort, on
   * every run, with no dependence on data-specific recall.
   */
  def ivfProbedTruth(
      corpus: DataFrame,
      queries: DataFrame,
      cents: Array[Array[Float]],
      k: Int,
      probes: Int
  ): DataFrame = {
    probedCandidates(corpus, queries, cents, probes)
      .groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")), col("item_id"), col("cos")))), 1, k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(
        col("query_id"),
        col("t.item_id").as("item_id"),
        col("t.cos").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /**
   * Train product-quantization codebooks: the vector space splits into
   * `m` equal-width subspaces, each with its own `codebookSize`-entry
   * codebook trained by the SAME bounded deterministic discipline as
   * the IVF quantizer (one hash-filtered sample collect, driver-local
   * Lloyd per subspace — no RNG, no partition-order dependence).
   * Codebooks are bounded metadata: m × codebookSize × (dim/m) floats.
   *
   * Why PQ at 100 TB: a 1024-dim float corpus is 4 KB/vector; its PQ
   * codes at m=16 are 16 bytes — a 256× reduction that converts the
   * scoring pass from memory-bandwidth-bound vector reads to M table
   * lookups per pair ([[VectorOps.adcCosine]]). The codes table for a
   * billion vectors fits where the raw vectors never could.
   */
  def pqTrain(
      spark: SparkSession,
      corpus: DataFrame,
      m: Int = 8,
      codebookSize: Int = 16,
      lloydIters: Int = 5,
      trainSample: Long = 20000L
  ): Array[Array[Array[Float]]] = {
    pqTrainOn(collectSample(items(corpus), trainSample, -1L), m, codebookSize, lloydIters)
  }

  /** [[pqTrain]]'s Lloyd loop over an already-collected sample — shared
    * with [[buildIvf]] so one sample collect trains BOTH the
    * coarse quantizer and the codebooks. Subvectors zero-pad past a
    * short vector's end (arraycopy into a zeroed buffer — the same
    * convention [[VectorOps.pqEncode]] applies at encode time), so a
    * ragged corpus trains instead of crashing. */
  private def pqTrainOn(
      sample: Array[(Long, Array[Float])],
      m: Int,
      codebookSize: Int,
      lloydIters: Int
  ): Array[Array[Array[Float]]] = {
    require(sample.nonEmpty, "pqTrain needs a non-empty corpus")
    val dim = sample.iterator.map(_._2.length).foldLeft(0)(math.max)
    require(dim % m == 0, s"dim $dim must divide into m=$m equal subspaces")
    val sub = dim / m
    Array.tabulate(m) { i =>
      val subSample = sample.map { case (id, v) =>
        val subv = new Array[Float](sub)
        val copyLen = math.max(0, math.min(sub, v.length - i * sub))
        if (copyLen > 0) System.arraycopy(v, i * sub, subv, 0, copyLen)
        (id, subv)
      }
      lloydOn(subSample, codebookSize, lloydIters)
    }
  }

  /** The (bounded) query batch collected to the driver. */
  private def queryRows(queries: DataFrame): Array[(Long, Array[Float])] =
    queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Per-query flattened ADC tables, driver-computed (queries are a
    * bounded batch): dots[m·K + c] = dot(q_m, cb_m[c]), norms2[m·K + c]
    * = |cb_m[c]|² (reconstruction-norm table), plus the query norm —
    * everything [[VectorOps.adcCosine]] needs. Shared by the in-memory
    * ([[pqTopK]]) and persisted ([[searchIvfPqIndex]]) search paths so
    * their ADC math cannot diverge. */
  private def pqQueryTables(
      qRows: Array[(Long, Array[Float])],
      codebooks: Array[Array[Array[Float]]]
  ): Array[(Long, Seq[Float], Seq[Double], Seq[Double], Double)] = {
    val m = codebooks.length
    val kk = codebooks(0).length
    val sub = if (codebooks(0).isEmpty) 0 else codebooks(0)(0).length
    qRows.map { case (qid, qv) =>
      // entry mi·K + c: (dot, |codeword|²) of subspace mi's codeword c
      val entries = for (mi <- 0 until m; c <- 0 until kk) yield {
        val cent = codebooks(mi)(c)
        var d = 0.0
        var n2 = 0.0
        for (i <- 0 until sub) {
          val qc = if (mi * sub + i < qv.length) qv(mi * sub + i).toDouble else 0.0
          d += qc * cent(i).toDouble
          n2 += cent(i).toDouble * cent(i).toDouble
        }
        (d, n2)
      }
      val qNorm = math.sqrt(qv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      (qid, qv.toSeq, entries.map(_._1), entries.map(_._2), qNorm)
    }
  }

  /** Encode a corpus against trained codebooks: ONE narrow codegen'd
    * pass ([[graft.functions.expressions.PqEncode]], codebooks as a
    * reference object) → (item_id, codes array<int>). This is the
    * persisted artifact of a PQ index: m ints (bytes, at storage) per
    * vector instead of dim floats. */
  def pqEncodeCorpus(corpus: DataFrame, codebooks: Array[Array[Array[Float]]]): DataFrame =
    spread(items(corpus)).select(col("item_id"),
      pqEncode(col("item_vec"), bcastTable(corpus.sparkSession, codebooks)).as("codes"))

  /**
   * PQ top-k search with asymmetric-distance scoring and exact
   * re-ranking — the standard two-stage shape:
   *
   *  1. ADC pass: every (query, item) pair scored from the item's
   *     CODES alone via the query's flattened lookup tables (computed
   *     once per query on the driver — queries are a bounded batch,
   *     like every search API here; the tables are m × codebookSize
   *     doubles each). Per-pair cost is m lookups, independent of
   *     dim; top `rerank` candidates per query survive (bounded-heap
   *     rank window).
   *  2. Exact re-rank: only the candidates' TRUE vectors are read
   *     back (semi-join-pruned corpus read), exact cosine, top-k.
   *
   * With `rerank` ≥ |corpus| stage 1 prunes nothing and the output
   * PROVABLY equals [[bruteForceTopK]] — the property the driver gate
   * hashes (q_ann_pq); the production setting (rerank ≈ 4-10× k)
   * reads back a candidates-sized fraction of the raw vectors, which
   * is the entire scale story. Zero-norm vectors drop exactly where
   * brute force drops them (NULL exact cosine at re-rank).
   */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      codebooks: Array[Array[Array[Float]]],
      k: Int,
      rerank: Int
  ): DataFrame = {
    val spark = corpus.sparkSession
    graft.sql.GraftFunctions.installTopKStrategy(spark)
    import spark.implicits._
    val kk = codebooks(0).length

    val codes = pqEncodeCorpus(corpus, codebooks)
    val qdf = pqQueryTables(queryRows(queries), codebooks).toSeq
      .toDF("query_id", "query_vec", "dots", "norms2", "qnorm")
    adcRerank(codes, qdf, kk, rerank, corpus, k)
  }

  /** Shared candidate generation: assign corpus cells, broadcast the
    * per-query probe list, score candidates with the fused cosine. */
  private def probedCandidates(
      corpus: DataFrame,
      queries: DataFrame,
      cents: Array[Array[Float]],
      probes: Int
  ): DataFrame = {
    val bcC = bcastTable(corpus.sparkSession, cents)
    scoreProbed(items(corpus).withColumn("cell", nearestCentroid(col("item_vec"), bcC)),
      probeCellsOf(queries, bcC, probes))
  }

  /** Each query (query_id, query_vec) once per probed cell. */
  private def probeCellsOf(
      queries: DataFrame, bcC: KernelTable[Array[Array[Float]]], probes: Int): DataFrame =
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .withColumn("cell", explode(nearestCentroids(col("query_vec"), bcC, probes)))

  /** Cell-assigned items against the broadcast per-query probe list,
    * scored with the fused cosine. Zero-norm vectors have no defined
    * cosine (graft_cosine → NULL) and are dropped, so ivfSearch (heap)
    * and ivfProbedTruth (sort) stay row-identical — a NULL would sort
    * differently in the two physical paths (nulls-last window vs
    * nulls-first struct sort). */
  private def scoreProbed(items: DataFrame, queryProbes: DataFrame): DataFrame =
    items
      .join(broadcast(queryProbes), Seq("cell"))
      .filter(col("query_id") =!= col("item_id"))
      .withColumn("cos", GraftFunctions.call("graft_cosine", col("query_vec"), col("item_vec")))
      .filter(col("cos").isNotNull)
}
