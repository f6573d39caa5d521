package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Z-order (Morton) data layout — multi-dimensional clustering so that
 * box predicates prune files on EVERY clustered dimension, not just
 * the leading sort column. The reference engine fixes one physical
 * order (time-major HBase keys — yupana-hbase's (baseTime, dimensions)
 * row keys); a Spark-native lakehouse instead picks the layout per
 * table, and for fact tables queried by independent dimensions
 * (user × time, region × day) a single-column sort leaves every
 * non-leading predicate unprunable. Interleaving the dimensions' bits
 * makes each range-partitioned output file a tight box in BOTH
 * dimensions, so parquet min/max stats skip files/row-groups for
 * either predicate — the worst case degrades to ~sqrt(files) instead
 * of all files.
 *
 * Determinism: [[zkey]] is pure 64-bit integer arithmetic (mask,
 * shift, or — the standard magic-mask bit spread), bit-identical in
 * any engine; the DuckDB oracle re-derives it from the same five
 * constants. All ops stay inside whole-stage codegen (no UDF).
 *
 * Scale shape (100 TB): the key adds ~12 integer ops per row in the
 * projection; the one exchange is the range partition by zkey that any
 * sorted write pays (bounds from one approximate-quantile pass), then
 * sortWithinPartitions feeds parquet row-group stats. Only the
 * `numFiles - 1` bounds are collected.
 */
object ZOrder {

  /** Max bits per dimension: two 21-bit dims interleave into 42 bits,
    * leaving the sign bit and headroom untouched. */
  val MaxBits = 21

  // 2-D bit-spread constants (abcd → a0b0c0d0): each step doubles the
  // gap; decimal so the DuckDB oracle can quote the same literals
  private val SpreadSteps: Seq[(Int, Long)] = Seq(
    16 -> 281470681808895L,     // 0x0000FFFF0000FFFF
    8 -> 71777214294589695L,    // 0x00FF00FF00FF00FF
    4 -> 1085102592571150095L,  // 0x0F0F0F0F0F0F0F0F
    2 -> 3689348814741910323L,  // 0x3333333333333333
    1 -> 6148914691236517205L)  // 0x5555555555555555

  private def spread(x0: Column): Column =
    SpreadSteps.foldLeft(x0) { case (x, (s, m)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }

  /**
   * The Morton key of two dimension values: the low `bits` of `a` on
   * even bit positions, of `b` on odd. Inputs are masked to `bits`
   * (callers scale/normalize first — an out-of-range value aliases
   * onto the wrong cell, which only costs locality, never
   * correctness: the key is a SORT key, not data).
   */
  def zkey(a: Column, b: Column, bits: Int = MaxBits): Column = {
    require(bits >= 1 && bits <= MaxBits, s"bits must be in [1, $MaxBits], got $bits")
    val mask = (1L << bits) - 1
    spread(a.cast("long").bitwiseAND(lit(mask)))
      .bitwiseOR(shiftleft(spread(b.cast("long").bitwiseAND(lit(mask))), 1))
  }

  /** [[zkey]] at the catalyst-Expression level for the SQL registry
    * (`graft_zkey(a, b [, bits])`) — the same node types
    * (Cast/BitwiseAnd/BitwiseOr/ShiftLeft over the shared
    * [[SpreadSteps]] constants) the Column path builds, parity
    * spec-pinned. */
  private[graft] def zkeyExpr(
      a: org.apache.spark.sql.catalyst.expressions.Expression,
      b: org.apache.spark.sql.catalyst.expressions.Expression,
      bits: Int): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast, Expression, Literal, ShiftLeft}
    import org.apache.spark.sql.types.LongType
    require(bits >= 1 && bits <= MaxBits, s"bits must be in [1, $MaxBits], got $bits")
    val mask = (1L << bits) - 1
    def spreadE(x0: Expression): Expression =
      SpreadSteps.foldLeft(x0) { case (x, (s, m)) =>
        BitwiseAnd(BitwiseOr(x, ShiftLeft(x, Literal(s))), Literal(m))
      }
    def in(e: Expression): Expression = BitwiseAnd(Cast(e, LongType), Literal(mask))
    BitwiseOr(spreadE(in(a)), ShiftLeft(spreadE(in(b)), Literal(1)))
  }

  /** The same spread as a SQL expression chain for an oracle engine:
    * step columns (`<out>_s0` … `<out>_s4`) to splice into a WITH
    * chain, avoiding the 2^5 blowup of textual nesting. */
  private[graft] def spreadSqlSteps(in: String, out: String): Seq[String] =
    SpreadSteps.zipWithIndex.map { case ((s, m), i) =>
      val src = if (i == 0) in else s"${out}_s${i - 1}"
      s"(($src | ($src << $s)) & $m) AS ${out}_s$i"
    }

  /**
   * Write `df` z-ordered on (`aCol`, `bCol`) pre-masked to `bits`:
   * range-partition by the interleaved key into `numFiles` files, sort
   * within each, drop the key, write parquet. Each output file is a
   * tight box in BOTH dimensions — its parquet min/max stats admit
   * skipping for predicates on either column.
   *
   * The range bounds are z-key quantiles (`approxQuantile`, rank error
   * under 1/64 of a file), and each row goes to the partition of its
   * range, one file per range: the hash repartition keys range `i` by an
   * int that hashes to partition `i` ([[hashPartitionKeys]]). So the
   * layout is a function of the data: `repartitionByRange` would sample
   * with a seed taken from the input RDD's id, and the same rows would
   * land in different files depending on how many RDDs the process had
   * created before.
   */
  def write(
      df: DataFrame, aCol: String, bCol: String, path: String,
      numFiles: Int, bits: Int = MaxBits): Unit = {
    val keyed = df.withColumn("__zkey", zkey(col(aCol), col(bCol), bits))
    val bounds = keyed.stat
      .approxQuantile("__zkey", (1 until numFiles).map(_.toDouble / numFiles).toArray, 1.0 / (64 * numFiles))
      .distinct.sorted
    // range i holds keys in (bounds(i - 1), bounds(i)]; NULL keys go first
    val range = coalesce(bounds.foldLeft(lit(0))((n, b) => n + (col("__zkey") > b).cast("int")), lit(0))
    keyed.repartition(numFiles, element_at(typedLit(hashPartitionKeys(numFiles)), range + 1))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** For each partition `p` of an `n`-way hash repartition, the smallest
    * int key that Spark's hash partitioning (murmur3 with seed 42, pmod
    * `n`) sends to `p`. About n·ln n hashes. */
  private[graft] def hashPartitionKeys(n: Int): Array[Int] = {
    val keys = Array.fill(n)(-1)
    var left = n
    var x = 0
    while (left > 0) {
      val p = Math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42), n)
      if (keys(p) < 0) { keys(p) = x; left -= 1 }
      x += 1
    }
    keys
  }

  /** Per-file (min, max) boxes of the given columns — the skippability
    * surface a reader's min/max pruning sees. One narrow scan. */
  def fileStats(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
