package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry
import graft.core.LocalSession

/**
 * Scratch: dump `explain("formatted")` of named SparkEntry queries to
 * one file each (`<outDir>/<query><suffix>.txt`) — the plans/r16
 * before/after artifacts. Usage:
 *   DumpPlanFiles <outDir> <suffix> <sfDir> <query> [query...]
 */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    Files.createDirectories(Paths.get(outDir))
    val spark = LocalSession("graft-dumpplanfiles", outDir, "spark.sql.maxMetadataStringLength" -> "500")
    SparkEntry.setupFixtures(spark, sfDir)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"$n$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[dumpplan] wrote $outDir/$n$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
