package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/**
 * Native vector-index expressions.
 *
 * Centroid tables are tiny, bounded metadata (numCells × dim floats) —
 * the standard IVF design ships them with the plan, so cell assignment
 * is a narrow per-row argmin instead of a crossJoin + window
 * row_number over |corpus| × numCells rows (two shuffles and a sort
 * saved per pass at any scale).
 *
 * Every expression here is codegen-capable: generated code calls the
 * static [[VectorOps]] kernels with its table attached through
 * [[KernelTable.genRef]], so scans stay inside one whole-stage span.
 */
object VectorOps {
  /** Squared L2 distance between an ArrayData float vector and a centroid. */
  @inline final def dist2(v: ArrayData, c: Array[Float]): Double = {
    val n = math.min(v.numElements(), c.length)
    var d = 0.0
    var i = 0
    while (i < n) {
      val diff = v.getFloat(i).toDouble - c(i).toDouble
      d += diff * diff
      i += 1
    }
    d
  }

  /** [[nearest]] over a plain float array — same math and tie-break, for
    * driver-local quantizer training on a bounded sample. */
  def nearestLocal(v: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(v.length, cent.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        val diff = v(i).toDouble - cent(i).toDouble
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Static kernel: index of the nearest centroid (ties → lowest index). */
  def nearest(v: ArrayData, centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = dist2(v, centroids(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Static kernel: squared-L2 distance to the nearest centroid — the
    * quantization error the cell assignment minimizes; the drift
    * statistic for persisted-index re-train triggers. */
  def nearestDist2(v: ArrayData, centroids: Array[Array[Float]]): Double = {
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = dist2(v, centroids(c))
      if (d < bestD) bestD = d
      c += 1
    }
    bestD
  }

  /**
   * Static kernel for OCCUPANCY-BOUNDED cell splitting: when `cell` has
   * a local sub-quantizer in `tables` (it was overfull at assignment
   * time), return the `probes` nearest sub-cell indices of that cell's
   * OWN table (ties → lowest index, the [[nearestK]] order); otherwise
   * the single sub-cell 0 (unsplit cells have exactly one sub-cell).
   * The map holds tables only for the few overfull cells, so the
   * common-case row pays one hash lookup and allocates a shared
   * singleton.
   */
  def subCells(
      cell: Int,
      v: ArrayData,
      tables: java.util.HashMap[Integer, Array[Array[Float]]],
      probes: Int): ArrayData = {
    val t = tables.get(cell)
    if (t == null) SubZero else nearestK(v, t, probes)
  }

  private val SubZero: ArrayData = new GenericArrayData(Array(0))

  /** Static kernel: `probes` nearest centroid indices, ascending by (distance, index). */
  def nearestK(v: ArrayData, centroids: Array[Array[Float]], probes: Int): ArrayData = {
    val ds = Array.tabulate(centroids.length)(c => (dist2(v, centroids(c)), c))
    val top = ds.sortBy(t => (t._1, t._2)).take(math.min(probes, ds.length)).map(_._2)
    new GenericArrayData(top)
  }

  /**
   * Static kernel: `p1 × p2` global cell ids from a TWO-LEVEL quantizer
   * — the p1 nearest coarse (L1) cells, and within each the p2 nearest
   * fine (L2) cells of that coarse cell's own table. Global id =
   * c1 * C2 + c2. Per-row cost is (C1 + p1·C2)·dim instead of the flat
   * table's (C1·C2)·dim — what makes ≥10^5-cell quantizers affordable
   * as a narrow map.
   */
  def nearestCellsHier(
      v: ArrayData,
      l1: Array[Array[Float]],
      l2: Array[Array[Array[Float]]],
      p1: Int,
      p2: Int
  ): ArrayData = {
    val d1 = Array.tabulate(l1.length)(c => (dist2(v, l1(c)), c))
    val coarse = d1.sortBy(t => (t._1, t._2)).take(math.min(p1, d1.length)).map(_._2)
    val c2n = if (l2.length == 0) 0 else l2(0).length
    val out = new Array[Int](coarse.length * math.min(p2, math.max(c2n, 0)))
    var k = 0
    var ci = 0
    while (ci < coarse.length) {
      val c1 = coarse(ci)
      val fine = l2(c1)
      val d2 = Array.tabulate(fine.length)(c => (dist2(v, fine(c)), c))
      val picks = d2.sortBy(t => (t._1, t._2)).take(math.min(p2, d2.length))
      var pi = 0
      while (pi < picks.length) {
        out(k) = c1 * c2n + picks(pi)._2
        k += 1
        pi += 1
      }
      ci += 1
    }
    new GenericArrayData(if (k == out.length) out else out.take(k))
  }

  /**
   * Static kernel: product-quantization codes — the m-th code is the
   * nearest centroid of the m-th SUBVECTOR in that subspace's own
   * codebook (ties → lowest index). Subspace widths come from the
   * codebooks; a vector shorter than their total width is treated as
   * ZERO-PADDED — components past its end contribute the centroid's
   * own energy to the distance (matching pqTrain's zero-padded
   * subvectors; note this deliberately differs from [[dist2]], which
   * TRUNCATES to the shorter length — the coarse cell assignment
   * tolerates ragged vectors loosely, while PQ's fixed subspace
   * geometry needs a defined value for every component).
   */
  def pqEncode(v: ArrayData, codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val m = codebooks.length
    val out = new Array[Int](m)
    var sub = 0
    var off = 0
    while (sub < m) {
      val cb = codebooks(sub)
      val subdim = if (cb.length == 0) 0 else cb(0).length
      val n = math.min(subdim, math.max(v.numElements() - off, 0))
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < n) {
          val diff = v.getFloat(off + i).toDouble - cent(i).toDouble
          d += diff * diff
          i += 1
        }
        // components past the vector's end contribute the centroid's own
        // energy, matching dist2 against an implicit zero tail
        var j = n
        while (j < subdim) { val t = cent(j).toDouble; d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(sub) = best
      off += subdim
      sub += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Static kernel: asymmetric-distance (ADC) cosine between a query
   * and a PQ-coded item. `dots`/`norms2` are the query's FLATTENED
   * lookup tables (m * k + code): dots[m][c] = dot(query_sub_m,
   * codebook_m[c]), norms2[m][c] = |codebook_m[c]|². The per-pair cost
   * is M table lookups — independent of the vector dimension, the
   * entire point of PQ. Returns NaN for a zero-norm query or
   * reconstruction (caller filters, as with exact cosine).
   */
  def adcCosine(codes: ArrayData, dots: ArrayData, norms2: ArrayData, qNorm: Double, k: Int): Double = {
    val m = codes.numElements()
    var dot = 0.0
    var n2 = 0.0
    var i = 0
    while (i < m) {
      val idx = i * k + codes.getInt(i)
      dot += dots.getDouble(idx)
      n2 += norms2.getDouble(idx)
      i += 1
    }
    dot / (qNorm * math.sqrt(n2))
  }

  /** Static kernel: sign bits against `planes` deterministic hyperplanes, packed into a long. */
  def hyperplaneBits(v: ArrayData, planes: Int): Long = {
    val n = v.numElements()
    var bits = 0L
    var j = 0
    while (j < planes) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        val h = Mix.splitmix64(j.toLong * 0x9E3779B97F4A7C15L + i.toLong)
        dot += v.getFloat(i).toDouble * (h.toDouble / Long.MaxValue.toDouble)
        i += 1
      }
      if (dot > 0) bits |= (1L << j)
      j += 1
    }
    bits
  }
}

/**
 * A kernel's table (centroids, codebooks, split sub-quantizers): either
 * a [[KernelTable.Local]] value or a [[KernelTable.Broadcasted]] handle.
 * Each vector kernel below is one class that takes either, so math and
 * tie-breaks cannot diverge between the two forms.
 *
 * The local form ships the table INSIDE every serialized task binary
 * (and, on the SQL surface, additionally as a plan literal): fine for
 * the bounded tables a SQL user writes. The Scala operators broadcast
 * the trained table instead: a 100-TB-scale quantizer (2M cells × 128
 * dim ≈ 1 GB of floats) embedded per task breaks plan serialization
 * long before the table stops being "metadata", while a broadcast
 * handle is a few bytes per task and executors fetch the blocks once
 * each through the block manager.
 */
sealed trait KernelTable[T <: AnyRef] extends Serializable {
  /** The table itself: a field read, or the task's one broadcast fetch. */
  def value: T

  /** A generated-code reference to the table, typed `javaType`. */
  def genRef(ctx: CodegenContext, name: String, javaType: String): String
}

// Each holder prints as its bare table or handle, so EXPLAIN shows a
// kernel's arguments as `[[F@…` or `Broadcast(n)`.
object KernelTable {
  /** A table held by value: a codegen reference object. */
  final case class Local[T <: AnyRef](value: T) extends KernelTable[T] {
    def genRef(ctx: CodegenContext, name: String, javaType: String): String =
      ctx.addReferenceObj(name, value, javaType)

    override def toString: String = String.valueOf(value)
  }

  /** A table held by broadcast handle. Generated code resolves
    * `bc.value()` once per task into an instance field, so the per-row
    * path never touches the block manager. */
  final case class Broadcasted[T <: AnyRef](bc: Broadcast[T]) extends KernelTable[T] {
    @transient lazy val value: T = bc.value

    def genRef(ctx: CodegenContext, name: String, javaType: String): String = {
      val bcRef = ctx.addReferenceObj(name, bc, "org.apache.spark.broadcast.Broadcast")
      ctx.addMutableState(javaType, name + "Val", v => s"$v = ($javaType) $bcRef.value();")
    }

    override def toString: String = bc.toString
  }
}

/** Index of the nearest centroid (ties → lowest index). */
case class NearestCentroid(child: Expression, centroids: KernelTable[Array[Array[Float]]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.nearest(input.asInstanceOf[ArrayData], centroids.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = centroids.genRef(ctx, "centroids", "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.VectorOps.nearest($c, $cents);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid = copy(child = newChild)
}

/** Squared-L2 distance to the nearest centroid (the quantization
  * error) — what index-drift checks threshold against. */
case class NearestCentroidDist(child: Expression, centroids: KernelTable[Array[Array[Float]]])
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_nearest_centroid_dist"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.nearestDist2(input.asInstanceOf[ArrayData], centroids.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = centroids.genRef(ctx, "centroids", "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.VectorOps.nearestDist2($c, $cents);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidDist =
    copy(child = newChild)
}

/** Indices of the `probes` nearest centroids, ascending by distance (ties → lower index). */
case class NearestCentroids(child: Expression, centroids: KernelTable[Array[Array[Float]]], probes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.nearestK(input.asInstanceOf[ArrayData], centroids.value, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = centroids.genRef(ctx, "centroids", "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.VectorOps.nearestK($c, $cents, $probes);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids = copy(child = newChild)
}

/** Global cell ids from a two-level quantizer (see
  * [[VectorOps.nearestCellsHier]]); both centroid tables ride as kernel
  * tables, so huge-cell-count quantizers never become SQL literals. */
case class NearestCellsHier(
    child: Expression,
    l1: KernelTable[Array[Array[Float]]],
    l2: KernelTable[Array[Array[Array[Float]]]],
    p1: Int,
    p2: Int
) extends UnaryExpression {

  // global cell arithmetic (c1 * C2 + c2) and output sizing both assume
  // a UNIFORM fine-table width — a ragged l2 would overrun the output
  // buffer or collide cell ids across coarse cells, so reject it at
  // construction instead of mid-query (a broadcast table was just
  // created on the driver, so its `.value` is a local read)
  {
    val (coarse, fine) = (l1.value, l2.value)
    require(fine.length == coarse.length,
      s"l2 must hold one fine table per coarse cell: ${fine.length} != ${coarse.length}")
    require(fine.isEmpty || fine.forall(_.length == fine(0).length),
      s"fine tables must be uniform width, got ${fine.map(_.length).distinct.toSeq}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells_hier"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.nearestCellsHier(input.asInstanceOf[ArrayData], l1.value, l2.value, p1, p2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l1r = l1.genRef(ctx, "l1", "float[][]")
    val l2r = l2.genRef(ctx, "l2", "float[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.VectorOps.nearestCellsHier($c, $l1r, $l2r, $p1, $p2);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellsHier = copy(child = newChild)
}

/**
 * Sub-cell probe list for OCCUPANCY-BOUNDED assignment
 * ([[VectorOps.subCells]]): `(cell, vec) → probes` nearest sub-cells of
 * `cell`'s local sub-quantizer, or `[0]` when the cell was never split.
 * The split-table map holds only the overfull cells, so the per-row
 * path is one map probe.
 */
case class SubCells(
    left: Expression,  // cell id (int)
    right: Expression, // vector (array<float>)
    tables: KernelTable[java.util.HashMap[Integer, Array[Array[Float]]]],
    probes: Int
) extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_sub_cells"

  override protected def nullSafeEval(cell: Any, vec: Any): Any =
    VectorOps.subCells(cell.asInstanceOf[Int], vec.asInstanceOf[ArrayData], tables.value, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = tables.genRef(ctx, "split", "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (c, v) =>
      s"${ev.value} = graft.functions.expressions.VectorOps.subCells($c, $v, $tbl, $probes);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubCells =
    copy(left = newLeft, right = newRight)
}

/**
 * Sign bits against `planes` deterministic pseudo-random hyperplanes
 * (component (j,i) = splitmix-derived value in [-1,1)), packed into a
 * long. Replaces a planes×dim interpreted lambda pipeline per row.
 */
case class HyperplaneBits(child: Expression, planes: Int) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_bits"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.hyperplaneBits(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.VectorOps.hyperplaneBits($c, $planes);")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBits = copy(child = newChild)
}

/**
 * Product-quantization codes: the m-th element is the index of the
 * nearest centroid of the m-th subvector in that subspace's codebook
 * ([[VectorOps.pqEncode]]). The codebooks (M × K × subdim floats —
 * bounded metadata, like every quantizer table here) ride as a kernel
 * table, so encoding the corpus is one narrow codegen'd pass. Uniform
 * fine-table width is required: the ADC kernel indexes the flattened
 * query tables as m * K + code.
 */
case class PqEncode(child: Expression, codebooks: KernelTable[Array[Array[Array[Float]]]])
    extends UnaryExpression {

  {
    val cbs = codebooks.value
    require(cbs.nonEmpty && cbs.forall(_.length == cbs(0).length),
      s"codebooks must be non-empty and uniform width, got ${cbs.map(_.length).distinct.toSeq}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.pqEncode(input.asInstanceOf[ArrayData], codebooks.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = codebooks.genRef(ctx, "codebooks", "float[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.VectorOps.pqEncode($c, $cb);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode = copy(child = newChild)
}

/**
 * ADC cosine between a PQ-coded item and a query whose flattened
 * lookup tables ride as row columns ([[VectorOps.adcCosine]]): scoring
 * a pair is M table lookups, independent of the original dimension —
 * the memory/compute shape that makes billion-vector search
 * affordable. `k` is the (uniform) codebook width the tables were
 * flattened with.
 */
case class PqAdcCosine(
    codes: Expression,
    dots: Expression,
    norms2: Expression,
    qNorm: Expression,
    k: Int
) extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = codes
  override def second: Expression = dots
  override def third: Expression = norms2
  override def fourth: Expression = qNorm

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_cosine"

  override protected def nullSafeEval(c: Any, d: Any, n: Any, q: Any): Any =
    VectorOps.adcCosine(
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData],
      n.asInstanceOf[ArrayData], q.asInstanceOf[Double], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, d, n, q) =>
      s"${ev.value} = graft.functions.expressions.VectorOps.adcCosine($c, $d, $n, $q, $k);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): PqAdcCosine =
    copy(codes = newFirst, dots = newSecond, norms2 = newThird, qNorm = newFourth)
}
