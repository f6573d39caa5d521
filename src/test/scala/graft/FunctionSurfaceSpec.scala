package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.{Ann, Bpe, CorpusStats, Dedup, Dsir, NaiveBayes, Retrieval, TextAnalysis}

/**
 * Scala operators and Column helpers build graft's expressions from the
 * builder table, not through the session registry: on a session that
 * holds no graft function they return the rows the registered session
 * returns, and leave that session's registry as they found it.
 */
class FunctionSurfaceSpec extends SparkSpecBase {

  /** A session with no graft functions: the shared session registers
    * them, but a new session starts from the built-in registry. */
  private lazy val bare: SparkSession = spark.newSession()

  private def graftFunctions(s: SparkSession): Seq[String] =
    Seq("graft_tokens", "graft_cosine")
      .filter(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  private def docs(s: SparkSession): DataFrame =
    s.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))

  private def vecs(s: SparkSession): DataFrame =
    s.read.parquet(s"$sfDir/embeddings.parquet").select(col("vec_id"), col("embedding"))

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def sameRows(label: String)(op: SparkSession => DataFrame): Unit =
    sameResult(label)(s => rowsOf(op(s)))

  /** `op` on the registered session and on the bare one: the same
    * result, and the bare session still holds no graft function after. */
  private def sameResult[T](label: String)(op: SparkSession => T): Unit = {
    def run(s: SparkSession): T = {
      SparkSession.setActiveSession(s)
      try op(s) finally SparkSession.setActiveSession(spark)
    }
    assert(graftFunctions(bare).isEmpty, "the bare session starts without graft functions")
    val expected = run(spark)
    assert(run(bare) == expected, label)
    assert(graftFunctions(bare).isEmpty, s"$label registered graft functions")
  }

  test("the F token helpers and Bpe.encode run on a session without graft functions") {
    sameRows("F token helpers") { s =>
      import s.implicits._
      Seq((1L, "Running cats and DOGS, 42 times"), (2L, "Привет, объём мира"), (3L, null: String))
        .toDF("id", "text")
        .select(col("id"), F.tokens(col("text")), F.stemmedTokens(col("text")), F.translit(col("text")),
          F.transliteratedTokens(col("text")), F.splitWords(col("text")),
          F.tokens(array(col("text"), lit(null).cast("string"), upper(col("text")))))
    }
    sameRows("Bpe.encode") { s =>
      docs(s).select(col("doc_id"), Bpe.encode(F.tokens(col("text")), Bpe.frozenMerges))
    }
  }

  test("Dedup pair operators run on a session without graft functions") {
    sameRows("minhashPairs")(s => Dedup.minhashPairs(docs(s), "doc_id", "text"))
    sameRows("simhashPairs")(s => Dedup.simhashPairs(docs(s), "doc_id", "text"))
    sameRows("ngramJaccardPairs")(s => Dedup.ngramJaccardPairs(docs(s), "doc_id", "text", Seq.empty))
    sameRows("embeddingPairs")(s => Dedup.embeddingPairs(vecs(s), "vec_id", "embedding", threshold = 0.9))
  }

  test("Ann, Retrieval, TextAnalysis, CorpusStats, Dsir and NaiveBayes run on a session without graft functions") {
    sameRows("bruteForceTopK")(s => Ann.bruteForceTopK(vecs(s), vecs(s).filter(col("vec_id") < 5), 3))
    sameRows("tokenPostings")(s => Retrieval.tokenPostings(docs(s), "doc_id", "text"))
    sameRows("contaminationScreenBloom") { s =>
      TextAnalysis.contaminationScreenBloom(docs(s), docs(s).filter(col("doc_id") % 7 === 0), "doc_id", "text")
    }
    sameRows("collocations")(s => CorpusStats.collocations(docs(s), "text", minCount = 2L))
    sameRows("lmPerplexity")(s => CorpusStats.lmPerplexity(docs(s), "doc_id", "text", maxNll = 10.0))
    sameRows("knBigramPerplexity")(s => CorpusStats.knBigramPerplexity(docs(s), "doc_id", "text", maxNll = 10.0))
    sameRows("Dsir.select") { s =>
      Dsir.select(docs(s), "doc_id", "text", col("doc_id") % 3 === 0, buckets = 256, k = 20)
    }
    val model = tempPath("dsir_model")
    Dsir.fit(docs(spark), "doc_id", "text", col("doc_id") % 3 === 0, 256, model)
    sameRows("Dsir.scoreWithModel")(s => Dsir.scoreWithModel(docs(s), "doc_id", "text", model))
    sameRows("NaiveBayes.classify") { s =>
      NaiveBayes.classify(docs(s).withColumn("label", (col("doc_id") % 2).cast("string")),
        "doc_id", "text", "label", col("doc_id") % 5 =!= 0, buckets = 256)
    }
  }

  test("StreamingDedup.embeddingsBatches runs on a session without graft functions on both sides of its bound") {
    // 0.9: sign-bit bands; 0.5: IVF cells
    for (threshold <- Seq(0.9, 0.5); localMax <- Seq(Long.MaxValue, 0L)) {
      sameResult(s"embeddingsBatches at $threshold, localMax $localMax") { s =>
        val base = tempDir("surface_vecdedup")
        val batches = graft.streaming.StreamingDedup.embeddingsBatches(s"$base/index", s"$base/matches",
          threshold = threshold, ivfCells = 4, localMax = localMax)
        batches(vecs(s).filter(col("vec_id") < 40), 0L)
        batches(vecs(s).filter(col("vec_id") >= 20 && col("vec_id") < 60), 1L)
        (rowsOf(s.read.parquet(s"$base/matches")), rowsOf(s.read.parquet(s"$base/index")))
      }
    }
  }
}
