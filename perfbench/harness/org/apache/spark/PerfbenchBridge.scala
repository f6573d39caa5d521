package org.apache.spark

/** Access to two package-private Spark members. The listener bus drain:
  * a traced run must see every listener event of its timed phase before
  * it attributes jobs and tasks to operations. A stage's shuffle id:
  * it links a result job to the map stages an earlier job ran. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The shuffle a stage writes, if it is a map stage. */
  def shuffleDepId(si: scheduler.StageInfo): Option[Int] = si.shuffleDepId
}
