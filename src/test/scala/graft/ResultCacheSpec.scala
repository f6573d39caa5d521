package graft

import org.apache.spark.sql.functions._

import graft.core.ResultCache

/**
 * ResultCache's plan fingerprint is the identity of a cached result in
 * both tiers: two plans that can answer differently must never share
 * it. Canonicalization drops a file relation's table identity and a
 * LocalRelation prints no rows, so the key folds both back in.
 */
class ResultCacheSpec extends SparkSpecBase {
  import spark.implicits._

  test("fingerprint separates same-schema inputs: parquet dirs, catalog tables, inline and local data") {
    val a = tempDir("fp_a")
    val b = tempDir("fp_b")
    (0 until 10).toDF("x").write.mode("overwrite").parquet(a)
    (10 until 40).toDF("x").write.mode("overwrite").parquet(b)
    def dirSum(p: String) = spark.read.parquet(p).agg(sum("x").as("s"))
    assert(dirSum(a).head().getLong(0) == 45L && dirSum(b).head().getLong(0) == 735L)
    assert(ResultCache.fingerprint(dirSum(a)) != ResultCache.fingerprint(dirSum(b)),
      "two parquet dirs with one schema must not share a key")
    assert(ResultCache.fingerprint(dirSum(a)) == ResultCache.fingerprint(dirSum(a)),
      "the same plan over the same dir keys identically")

    spark.sql("DROP TABLE IF EXISTS fp_t1")
    spark.sql("DROP TABLE IF EXISTS fp_t2")
    try {
      spark.sql(s"CREATE TABLE fp_t1 USING parquet LOCATION '$a'")
      spark.sql(s"CREATE TABLE fp_t2 USING parquet LOCATION '$b'")
      assert(ResultCache.fingerprint(spark.sql("SELECT sum(x) FROM fp_t1")) !=
        ResultCache.fingerprint(spark.sql("SELECT sum(x) FROM fp_t2")),
        "two catalog tables with one schema must not share a key")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fp_t1")
      spark.sql("DROP TABLE IF EXISTS fp_t2")
    }

    val v12 = spark.sql("SELECT sum(c) AS s FROM VALUES (1), (2) AS t(c)")
    val v34 = spark.sql("SELECT sum(c) AS s FROM VALUES (3), (4) AS t(c)")
    assert(v12.head().getLong(0) != v34.head().getLong(0))
    assert(ResultCache.fingerprint(v12) != ResultCache.fingerprint(v34),
      "inline VALUES rows are part of the key")

    val l12 = Seq(1, 2).toDF("c").agg(sum("c"))
    val l34 = Seq(3, 4).toDF("c").agg(sum("c"))
    assert(ResultCache.fingerprint(l12) != ResultCache.fingerprint(l34),
      "local DataFrame rows are part of the key")
    assert(ResultCache.fingerprint(l12) == ResultCache.fingerprint(Seq(1, 2).toDF("c").agg(sum("c"))),
      "equal local rows key identically")
  }
}
