package graft.core

import org.apache.spark.sql.SparkSession

/**
 * The one local-mode session of graft's mains (Bench, Verify, the
 * examples and the `graft.tools` mains) and of the spec suite:
 *  - `local[cpus]` with as many shuffle partitions;
 *  - the UTC session zone the oracle gates are checked under;
 *  - no UI, and TIMESTAMP(NANOS) parquet read as longs (`events`);
 *  - a 600 s network timeout and a 60 s heartbeat: with the default
 *    120 s heartbeat timeout a measured 153 s full-GC stall got the
 *    (local!) executor "removed" and the whole run died rpc-less;
 *  - WARN logging.
 * Callers add only their app name and their own confs.
 */
object LocalSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The JVM's session (`getOrCreate`). Embedded Derby (the
    * declared-catalog fixtures) logs to `<outDir>/derby.log` instead of
    * the working directory. */
  def apply(appName: String, outDir: String, confs: (String, String)*): SparkSession = {
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file", new java.io.File(outDir, "derby.log").getPath)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
