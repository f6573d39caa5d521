package graft.examples

import graft.core.LocalSession
import graft.wire.PgWireServer

/**
 * Serve a parquet dataset to PostgreSQL clients — the deployment
 * pattern for [[graft.wire.PgWireServer]] (reference: yupana-postgres
 * is how BI tools reach yupana; this is graft's equivalent, end to
 * end). Run:
 *   sbt "runMain graft.examples.ServePg /root/testdata/sf0.001 15432"
 * then from another terminal:
 *   PGPASSWORD=demo psql -h 127.0.0.1 -p 15432 -U demo -d graft \
 *     -c "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1"
 *
 * Two serving decisions this example demonstrates:
 *  - tables are registered in the CATALOG (external parquet tables),
 *    not as temp views — every wire connection forks its own session,
 *    and only the shared catalog is visible across forks;
 *  - wire logins always validate, so a principal is created first and
 *    its credentials are what psql presents (an unregistered name is
 *    refused with "Invalid user or password").
 */
object ServePg {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = if (args.length > 1) args(1).toInt else 0
    val spark = LocalSession("graft-serve-pg", System.getProperty("java.io.tmpdir"),
      "spark.sql.extensions" -> "graft.sql.GraftExtensions")

    // catalog tables: visible to every forked wire session (temp views
    // would not be). The nanos-timestamped tables are left out of the
    // demo set for simplicity.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t USING parquet LOCATION '$dir/$t.parquet'")
    }

    // the wire principal psql will present
    spark.sql("CREATE USER 'demo' WITH PASSWORD = 'demo' WITH ROLE = 'READ_ONLY'")

    val server = new PgWireServer(spark, port = port)
    server.start()
    println(s"serving $dir on pg port ${server.getPort} (user demo / password demo)")
    println(s"""try: PGPASSWORD=demo psql -h 127.0.0.1 -p ${server.getPort} -U demo -d graft -c "SHOW VERSION"""")
    Thread.currentThread.join() // serve until killed
  }
}
