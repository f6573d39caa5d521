package graft

import graft.core.BloomSidecar
import org.apache.spark.util.sketch.BloomFilter

class BloomSidecarSpec extends SparkSpecBase {

  private def bytes(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** A filter's hash count: the serialized form's second int (after
    * the version), read without buffering the bits. */
  private def hashCount(bf: BloomFilter): Int = {
    val head = java.nio.ByteBuffer.allocate(8)
    bf.writeTo(new java.io.OutputStream {
      override def write(b: Int): Unit = if (head.hasRemaining) head.put(b.toByte)
    })
    head.getInt(4)
  }

  test("a sidecar sized for 20M keys has BloomFilter.create(20M, fpp)'s bits and hash count") {
    val keys = spark.range(0L, 1000L, 1L, 2).toDF("k")
    for (fpp <- Seq(1e-6, 0.03)) {
      val dir = tempDir("bloom_geometry")
      BloomSidecar.write(spark, dir, "_keys_bloom", BloomSidecar.build(keys, 20000000L, fpp))
      val got = BloomSidecar.read(spark, dir, "_keys_bloom").get
      val want = BloomFilter.create(20000000L, fpp)
      assert(got.bitSize() == want.bitSize(), s"fpp $fpp")
      assert(hashCount(got) == hashCount(want), s"fpp $fpp")
      assert((0L until 1000L).forall(got.mightContainLong), s"fpp $fpp: no false negative")
    }
  }

  test("the frame and driver builds give identical bytes; NULL keys are skipped") {
    import spark.implicits._
    val ids = (0L until 5000L).map(_ * 7919L)
    // three partitions of keys and NULLs, and one of NULLs only
    val withNulls = (ids.map(Option(_)) ++ Seq.fill(100)(None)).toDF("k").repartition(3)
      .union(Seq.fill(100)(Option.empty[Long]).toDF("k").repartition(1))
    val frame = BloomSidecar.build(withNulls, ids.size.toLong, 0.03)
    assert(bytes(frame).sameElements(bytes(BloomSidecar.build(ids, ids.size.toLong, 0.03))))
    val empty = BloomSidecar.build(spark.range(0L).toDF("k"), 10L, 0.03)
    assert(bytes(empty).sameElements(bytes(BloomSidecar.build(Nil, 10L, 0.03))),
      "a key-less frame builds the empty filter")
  }

  test("the reader: None for a missing or torn sidecar; the cached broadcast follows rewrites") {
    val dir = tempDir("bloom_reader")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir, "_ids_bloom")
    assert(BloomSidecar.read(spark, dir, "_ids_bloom").isEmpty)
    assert(BloomSidecar.readBcast(spark, dir, "_ids_bloom").isEmpty)
    val torn = fs.create(p, true)
    try torn.write(Array[Byte](0, 0, 0, 2, 0, 0)) finally torn.close()
    assert(BloomSidecar.read(spark, dir, "_ids_bloom").isEmpty, "a torn sidecar reads as None")
    assert(BloomSidecar.readBcast(spark, dir, "_ids_bloom").isEmpty)

    // same keys, same length: only the write nonce tells the files apart
    BloomSidecar.write(spark, dir, "_ids_bloom", BloomSidecar.build(Seq(1L, 2L), 2L, 0.03))
    val b1 = BloomSidecar.readBcast(spark, dir, "_ids_bloom").get
    assert(BloomSidecar.readBcast(spark, dir, "_ids_bloom").get eq b1, "an unchanged sidecar is a cache hit")
    BloomSidecar.write(spark, dir, "_ids_bloom", BloomSidecar.build(Seq(1L, 2L), 2L, 0.03))
    assert(BloomSidecar.readBcast(spark, dir, "_ids_bloom").get ne b1, "a rewritten sidecar is re-read")
  }
}
