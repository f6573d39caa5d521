package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing testdata dir by
  * deterministic replication: `runMain graft.tools.ScaleData <mult>
  * <outDir> [srcDir]` (defaults: 5, /tmp/graft_sf0.5,
  * /root/testdata/sf0.1). Used to record a SECOND idle bench point so
  * round-over-round growth claims ride a measured scaling curve
  * instead of a single sf (BENCH_IDLE.json's `sf0.5` block).
  *
  * Replication preserves the join graph: every key column (order,
  * customer, part, supplier, event, user, doc, vec) shifts by
  * `replica × 1e9`, so FK edges stay intact within a replica and
  * never collide across replicas. Dimension tables that TPC-H holds
  * constant across SF (region, nation) are copied as-is. To avoid
  * degenerate workloads that exact replication would create —
  * every replica group an exact-dup cluster, every vector collapsing
  * to its original — replicas i>0 get a one-token text suffix
  * (`rep<i>`: the doc stays a NEAR-dup of its original, which is the
  * realistic shape for dedup growth) and a per-replica embedding
  * offset (+0.003·i per component). Replica 0 is bit-identical to
  * the source, so sf-vs-sf comparisons share a common core.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(5)
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf0.5"
    val srcDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.core.LocalSession("graft-scaledata", outDir)

    val Off = 1000000000L // replica key offset: far above any source key
    def src(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def shift(df: DataFrame, keys: Seq[String])(extra: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map { i =>
        val shifted = keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Off)))
        extra(shifted, i)
      }.reduce(_ unionByName _)
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaledata] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    def noExtra(d: DataFrame, i: Int): DataFrame = d

    write("region", src("region"))
    write("nation", src("nation"))
    write("customer", shift(src("customer"), Seq("c_custkey"))(noExtra))
    write("supplier", shift(src("supplier"), Seq("s_suppkey"))(noExtra))
    write("part", shift(src("part"), Seq("p_partkey"))(noExtra))
    write("orders", shift(src("orders"), Seq("o_orderkey", "o_custkey"))(noExtra))
    write("lineitem",
      shift(src("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))(noExtra))
    write("events", shift(src("events"), Seq("event_id", "user_id"))(noExtra))
    write("documents", shift(src("documents"), Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d
        .withColumn("text", concat(col("text"), lit(s" rep$i")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    write("embeddings", shift(src("embeddings"), Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        expr(s"transform(embedding, x -> CAST(x + ${0.003 * i} AS FLOAT))"))
    })
    spark.stop()
  }
}
