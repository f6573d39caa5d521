package graft

import java.io.File

/** SparkEntry's build-once gate fixtures: all under
  * [[SparkEntry.fixtureRoot]] (here the spec session's warehouse, inside
  * the per-JVM temp root), built once, and rebuilt when a done-marker
  * is missing. */
class FixtureSpec extends SparkSpecBase {

  private def tmpGraft(): Set[String] =
    Option(new File("/tmp").list()).toSeq.flatten.filter(_.startsWith("graft_")).toSet

  test("setupFixtures builds once under the fixture root; a lost done-marker wipes and rebuilds") {
    val root = SparkEntry.fixtureRoot(spark)
    val tmpBefore = tmpGraft()
    assert(root.startsWith(new File(SparkSpecBase.warehouseDir).getPath), root)
    SparkEntry.setupFixtures(spark, sfDir)

    val counter = new JobCounter(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      assert(counter.during(SparkEntry.setupFixtures(spark, sfDir)) == 0,
        "a second setupFixtures must find every fixture built and run no Spark job")

      val index = new File(s"$root/textindex").listFiles().filter(_.getName.contains("sf0_001")).head
      val marker = new File(index, "_fixture_done")
      val stray = new File(index, "stray")
      assert(marker.isFile && stray.createNewFile())
      assert(marker.delete())
      assert(counter.during(SparkEntry.setupFixtures(spark, sfDir)) > 0, "a lost marker must rebuild")
      assert(marker.isFile, "the rebuild must write its done-marker last")
      assert(!stray.exists, "a fixture without its marker must be wiped before the rebuild")
      assert(new File(index, "meta").isDirectory && new File(index, "sigs").isDirectory)
    } finally spark.sparkContext.removeSparkListener(counter)

    val created = tmpGraft() -- tmpBefore
    assert(created.isEmpty, s"fixtures must not be created under /tmp/graft_*: $created")
  }
}
