package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{ SparkListener, SparkListenerJobStart }

/** Counts the Spark jobs started on `sc`, with each job's description.
  * The listener bus is asynchronous, so [[during]] drains it by waiting
  * for a marker job of its own. Register it with `sc.addSparkListener`
  * and remove it when done. */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val counted = new java.util.concurrent.atomic.AtomicLong
  private val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
      case d: String if d.startsWith(JobCounter.MarkerPrefix) => markers.add(d); ()
      case d => counted.incrementAndGet(); labels.add(String.valueOf(d)); ()
    }

  private def drain(): Unit = {
    val tag = JobCounter.MarkerPrefix + java.util.UUID.randomUUID()
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!markers.contains(tag)) {
      assert(System.nanoTime() < deadline, "the listener bus did not drain")
      Thread.sleep(10)
    }
  }

  /** Spark jobs started while `body` ran, on any thread. */
  def during(body: => Unit): Long = jobsAndLabels(body)._1

  /** Spark jobs started while `body` ran, on any thread, and the
    * descriptions they carried ("null" for an unlabeled job). */
  def jobsAndLabels(body: => Unit): (Long, Seq[String]) = {
    drain()
    val before = counted.get
    labels.clear()
    body
    drain()
    import scala.jdk.CollectionConverters._
    (counted.get - before, labels.asScala.toList)
  }
}

object JobCounter {
  private val MarkerPrefix = "job-counter-marker-"
}
