package graft.tools

import graft.core.LocalSession
import graft.operators.Bpe

/** Learn a BPE merge table from a testdata documents table and print
  * it as Scala/SQL-pasteable literals: `runMain graft.tools.LearnBpe
  * <sfDir> [numMerges]`. The gated q_bpe_encode query applies a FROZEN
  * merge table (the production shape — a tokenizer is trained once and
  * applied everywhere), so the table it freezes is produced here, from
  * the real corpus, reproducibly (the learner is deterministic).
  */
object LearnBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val numMerges = if (args.length > 1) args(1).toInt else 16
    val spark = LocalSession("graft-learnbpe", System.getProperty("java.io.tmpdir"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = Bpe.learnMerges(docs, "text", numMerges = numMerges)
    merges.foreach { m =>
      println(f"""[learnbpe] Merge(${m.rank}%2d, "${m.left}", "${m.right}", ${m.weight}L)""")
    }
    spark.stop()
  }
}
