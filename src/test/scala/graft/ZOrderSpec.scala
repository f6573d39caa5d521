package graft

import org.apache.spark.sql.functions._
import graft.operators.ZOrder

/** Z-order layout (round-10 operator): the Morton key against a
  * bit-by-bit local recompute (the magic-mask spread is the part a
  * typo would silently break — the DuckDB gate then re-proves it at
  * corpus scale), and the layout's skippability claim: a z-ordered
  * write admits min/max file pruning on BOTH dimensions where a
  * single-column sort only prunes its leading dimension. */
class ZOrderSpec extends SparkSpecBase {

  /** Reference interleave, one bit at a time. */
  private def zloc(a: Long, b: Long, bits: Int = 21): Long =
    (0 until bits).foldLeft(0L)((z, i) =>
      z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))

  test("zkey equals the bit-by-bit local interleave, incl. boundaries and masking") {
    import spark.implicits._
    val max = (1L << 21) - 1
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (max, max), (max, 0L), (0L, max),
      (123456L, 654321L), (1L << 20, (1L << 20) - 1), (19723L, 1499L))
    val got = pairs.toDF("a", "b")
      .select(ZOrder.zkey(col("a"), col("b")).as("z")).collect().map(_.getLong(0))
    for (((a, b), z) <- pairs.zip(got)) assert(z == zloc(a, b), s"zkey($a, $b)")
    // out-of-range input masks to its low bits (locality cost only)
    val m = Seq((max + 5L, 7L)).toDF("a", "b")
      .select(ZOrder.zkey(col("a"), col("b"))).head().getLong(0)
    assert(m == zloc((max + 5L) & max, 7L))
    // reduced-width key: same interleave over the low `bits`
    val r = Seq((45L, 7L)).toDF("a", "b")
      .select(ZOrder.zkey(col("a"), col("b"), bits = 6)).head().getLong(0)
    assert(r == zloc(45L, 7L, 6))
  }

  test("graft_zkey SQL function matches the Column path and the local interleave") {
    graft.sql.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_zkey(19723, 1499) AS z, graft_zkey(45, 7, 6) AS r, graft_zkey(0, 2097151) AS m")
      .head()
    assert(r.getLong(0) == zloc(19723L, 1499L))
    assert(r.getLong(1) == zloc(45L, 7L, 6))
    assert(r.getLong(2) == zloc(0L, (1L << 21) - 1))
  }

  test("spreadSqlSteps carries the identical constants as the Column expression") {
    // the oracle splices these strings — a drifted constant would pass
    // compile and fail only at gate time; pin them here instead
    val steps = ZOrder.spreadSqlSteps("x", "z")
    assert(steps.size == 5)
    for ((m, i) <- Seq(281470681808895L, 71777214294589695L, 1085102592571150095L,
        3689348814741910323L, 6148914691236517205L).zipWithIndex)
      assert(steps(i).contains(s"& $m)"), s"step $i constant")
    assert(steps.head.contains("(x | (x << 16))") && steps.last.contains("z_s3"))
  }

  test("z-ordered files admit min/max skipping on BOTH dims; a-sorted only on a") {
    import spark.implicits._
    // full 64×64 grid, 4 rows per cell — every file's (min, max) box is
    // determined by the layout, not by sampling luck
    val rows = for (a <- 0 until 64; b <- 0 until 64; r <- 0 until 4)
      yield (a.toLong, b.toLong, r)
    val df = rows.toDF("a", "b", "r").repartition(8)
    val zPath = tempPath("zorder")
    val aPath = zPath + "_asorted"
    ZOrder.write(df, "a", "b", zPath, numFiles = 16)
    df.repartitionByRange(16, col("a")).sortWithinPartitions(col("a"), col("b"))
      .write.mode("overwrite").parquet(aPath)

    def boxes(p: String) = ZOrder.fileStats(spark, p, Seq("a", "b")).collect()
      .map(r => (r.getAs[Long]("a_min"), r.getAs[Long]("a_max"),
        r.getAs[Long]("b_min"), r.getAs[Long]("b_max")))
    val (zb, ab) = (boxes(zPath), boxes(aPath))
    assert(zb.length == 16 && ab.length == 16)

    // a reader prunes a file when its [min, max] misses the predicate
    def touched(bx: Array[(Long, Long, Long, Long)],
        aRange: Option[(Long, Long)], bRange: Option[(Long, Long)]): Int =
      bx.count { case (a0, a1, b0, b1) =>
        aRange.forall { case (lo, hi) => a1 >= lo && a0 <= hi } &&
          bRange.forall { case (lo, hi) => b1 >= lo && b0 <= hi }
      }

    // b-only predicate (¼ of the space): the a-sorted layout cannot
    // prune AT ALL — every file spans all of b; z-order reads ≤ half
    val bOnly = Some((0L, 15L))
    assert(touched(ab, None, bOnly) == 16, "a-sort spans b in every file")
    assert(touched(zb, None, bOnly) <= 8, s"z-order touched ${touched(zb, None, bOnly)} for b-only")
    // a-only predicate: BOTH layouts prune (z-order keeps ~sqrt scaling)
    val aOnly = Some((0L, 15L))
    assert(touched(ab, aOnly, None) <= 6)
    assert(touched(zb, aOnly, None) <= 8)
    // box predicate (1/16 of the space): z-order touches a corner
    assert(touched(zb, aOnly, bOnly) <= 4, s"box touched ${touched(zb, aOnly, bOnly)}")

    // and the data survives the round trip
    assert(spark.read.parquet(zPath).count() == rows.size)
    assert(spark.read.parquet(zPath).agg(sum(col("a") + col("b"))).head().getLong(0) ==
      rows.map(t => t._1 + t._2).sum)
  }

  test("z-order file boundaries do not depend on how many RDDs the process created") {
    import spark.implicits._
    val df = (for (a <- 0 until 64; b <- 0 until 64; r <- 0 until 2) yield (a.toLong, b.toLong, r))
      .toDF("a", "b", "r").repartition(8)
    // range-partition sampling was seeded by the input RDD's id, which
    // every RDD created before the write moves
    def boxes(extraRdds: Int): Seq[(Long, Long, Long, Long)] = {
      (0 until extraRdds).foreach(_ => spark.sparkContext.parallelize(Seq(1)))
      val p = tempDir("zorder_rdd_ids")
      ZOrder.write(df, "a", "b", p, numFiles = 16)
      ZOrder.fileStats(spark, p, Seq("a", "b")).collect()
        .map(r => (r.getAs[Long]("a_min"), r.getAs[Long]("a_max"), r.getAs[Long]("b_min"), r.getAs[Long]("b_max")))
        .sorted.toSeq
    }
    val first = boxes(0)
    assert(first.length == 16)
    for (extra <- Seq(1, 2, 5, 11, 23)) assert(boxes(extra) == first, s"$extra extra RDDs")
  }
}
