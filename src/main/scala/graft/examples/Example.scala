package graft.examples

import org.apache.spark.sql.functions._

import graft.core.{LocalSession, QueryBuilder}
import graft.operators.{Dedup, TextAnalysis}
import graft.schema.TestSchema
import graft.sql.GraftFunctions

/**
 * End-to-end walkthrough of the library (the reference ships
 * yupana-examples as the starting point for users — this is graft's):
 * schema-driven OLAP query, SQL surface with graft functions, and a
 * corpus-curation pass. Run:
 *   sbt "runMain graft.examples.Example /root/testdata/sf0.001"
 */
object Example {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession("graft-example", System.getProperty("java.io.tmpdir"))
    GraftFunctions.register(spark)
    def load(n: String) = spark.read.parquet(s"$dir/$n.parquet")

    println("== OLAP: quantity shipped per supplier in 1994, suppliers over 100 units ==")
    QueryBuilder(spark, TestSchema.schema, load, "lineitem")
      .timeRange("1994-01-01", "1995-01-01")
      .groupBy(col("l_suppkey"))
      .select(sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("qty"))
      .having(col("qty") > 100.0)
      .build()
      .orderBy(col("qty").desc)
      .show(5)

    println("== SQL surface with graft functions ==")
    GraftFunctions.registerTables(spark, load, Seq("documents"))
    spark.sql(
      "SELECT doc_id, graft_text_simhash(text) AS sig FROM documents ORDER BY doc_id LIMIT 5"
    ).show(false)

    println("== Corpus curation: near-duplicate pairs + quality scores ==")
    Dedup.minhashPairs(load("documents"), "doc_id", "text", threshold = 0.3).show(5)
    load("documents")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("quality").desc)
      .show(5)

    println("== BM25 retrieval: top docs for 'hash join' ==")
    graft.operators.Retrieval
      .bm25TopK(spark, load("documents"), "doc_id", "text",
        queries = Seq("q" -> Seq("hash", "join")), k = 5)
      .show(5)

    println("== Training shards: pack docs into 512-token shards ==")
    graft.operators.Packing
      .packShards(
        load("documents").select(col("doc_id"),
          size(graft.functions.F.tokens(col("text"))).cast("long").as("w")),
        "doc_id", "w", budget = 512L,
        orderCol = md5(col("doc_id").cast("string").cast("binary")))
      .groupBy(col("shard_id")).agg(count(lit(1)).as("docs"), sum(col("w")).as("tokens"))
      .orderBy(col("shard_id"))
      .show(5)

    println("== Semantic dedup: collapse near-identical embeddings, keep representatives ==")
    Dedup
      .semanticDedup(load("embeddings"), "vec_id", "embedding", threshold = 0.9)
      .filter(!col("keep"))
      .show(5)

    println("== Boilerplate: grams repeated across a source's documents ==")
    TextAnalysis
      .boilerplate(load("documents"), "doc_id", "text", "source", n = 5, minDf = 2)
      .orderBy(col("boiler_frac").desc, col("doc_id"))
      .show(5)

    spark.stop()
  }
}
