package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.core.{QueryBuilder, QueryMetrics}
import graft.schema.TestSchema
import graft.sources.TsLayout

class PlatformSpec extends SparkSpecBase {

  private def load(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")

  test("QueryBuilder surfaces unknown columns with the table schema (QueryValidator parity)") {
    val e = intercept[IllegalArgumentException] {
      QueryBuilder(spark, TestSchema.schema, load, "lineitem")
        .where(col("no_such_column") === 1)
        .select(col("l_orderkey"))
        .build()
        .collect()
    }
    assert(e.getMessage.contains("lineitem") && e.getMessage.contains("l_quantity"))
  }

  test("QueryMetrics records duration and row counts per action") {
    val m = QueryMetrics.attach(spark)
    try {
      m.clear()
      load("region").count()
      // listener callbacks are async; poll briefly
      val deadline = System.currentTimeMillis() + 5000
      while (m.snapshot().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val recs = m.snapshot()
      assert(recs.nonEmpty)
      assert(recs.forall(!_.failed))
      assert(recs.exists(_.durationNs > 0))
    } finally m.close()
  }

  test("Rollup.materialize persists the pre-aggregate and queries over it match the source") {
    import spark.implicits._
    import graft.sources.Rollup
    import graft.functions.F
    val events = graft.sources.EventTime.normalizeTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val roll = Rollup(
      name = "events_by_day",
      timeExpr = F.truncDay(col("ts")),
      groupBy = Seq(col("event_type")),
      aggregates = Seq(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,4)")).as("v"))
    )
    val path = tempDir("rollup_spec") + "/events_by_day"
    roll.materialize(events, path)
    val fromRollup = spark.read.parquet(path)
      .groupBy("event_type").agg(sum("c").as("n")).as[(String, Long)].collect().toMap
    val fromSource = events.groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(fromRollup == fromSource)
  }

  test("catalog metadata surface: SHOW TABLES / COLUMNS / FUNCTIONS") {
    import graft.sql.Catalog
    val tables = Catalog.showTables(spark, TestSchema.schema).collect().map(_.getString(0)).toSet
    assert(tables == Set("lineitem", "events"))
    val cols = Catalog.showColumns(spark, TestSchema.schema, "events").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(cols("ts") == "time" && cols("event_type") == "dimension" && cols("value") == "metric")
    val fns = Catalog.showFunctions(spark).collect().map(_.getString(0)).toSet
    assert(fns.contains("graft_cosine") && fns.contains("graft_text_minhash"))
  }

  test("admin surface: SHOW/DELETE QUERY METRICS, KILL QUERY, SHOW UPDATES_INTERVALS") {
    import graft.sql.Catalog
    val m = QueryMetrics.attach(spark)
    try {
      m.clear()
      load("region").count()
      val deadline = System.currentTimeMillis() + 5000
      while (m.snapshot().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)

      val shown = Catalog.showQueryMetrics(spark, m)
      assert(shown.columns.toSeq === Seq("query", "duration_ms", "output_rows", "state"))
      assert(shown.count() >= 1)
      assert(shown.collect().forall(_.getString(3) == "FINISHED"))

      // (no isEmpty check after delete: the delete's own .head() action
      // lands in the listener queue asynchronously)
      val deleted = Catalog.deleteQueryMetrics(spark, m).head().getLong(0)
      assert(deleted >= 1)

      // KILL QUERY: cancel a slow query running under a job group
      @volatile var failure: Option[Throwable] = None
      val t = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup("victim", "slow query", interruptOnCancel = true)
          spark.range(Long.MaxValue / 4).selectExpr("sum(id * id)").collect()
        } catch { case e: Throwable => failure = Some(e) }
        finally spark.sparkContext.clearJobGroup()
      })
      t.start()
      val jobDeadline = System.currentTimeMillis() + 15000
      while (spark.sparkContext.statusTracker.getJobIdsForGroup("victim").isEmpty &&
        System.currentTimeMillis() < jobDeadline) Thread.sleep(50)
      val killed = Catalog.killQuery(spark, "victim").head()
      assert(killed.getString(1) == "CANCELLED")
      t.join(30000)
      assert(!t.isAlive, "victim query should have been cancelled")
      assert(failure.exists(_.getMessage.toLowerCase.contains("cancel")), s"got: $failure")

      // SHOW UPDATES_INTERVALS over the rollup changelog
      import graft.sources.Changelog
      val cl = tempPath("admin_cl")
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(cl), true)
      Changelog.markDirty(load("region").limit(1).select(lit("2024-01").as("b")), col("b"), cl)
      val intervals = Catalog.showUpdatesIntervals(spark, cl).collect()
      assert(intervals.map(_.getString(0)).toSeq === Seq("2024-01"))
    } finally m.close()
  }

  test("registry completeness: now/database/id functions") {
    val r = spark.sql(
      "SELECT graft_now() AS t, graft_database() AS db, graft_id('region_A') AS id1, graft_id('region_A') AS id2").head()
    assert(r.getAs[java.sql.Timestamp]("t") != null)
    assert(r.getAs[String]("db") == "graft")
    assert(r.getAs[Long]("id1") == r.getAs[Long]("id2"))
  }

  test("bucketed fact tables join without an exchange (co-located join)") {
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    // clear any orphaned managed-table locations from prior runs
    Seq("orders_b", "lineitem_b").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"${SparkSpecBase.warehouseDir}/$t"))
    }
    TsLayout.writeBucketed(load("orders"), "orders_b", "o_orderkey", 8)
    TsLayout.writeBucketed(
      load("lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b",
      "o_orderkey",
      8
    )
    // force the merge join (tiny test tables would broadcast); at fact
    // scale SMJ is what the planner picks and bucketing must feed it
    // without a shuffle or sort
    val joined = spark.table("orders_b").hint("merge").join(spark.table("lineitem_b"), "o_orderkey")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n${plan.take(3000)}")
  }

  test("result cache: a hit serves without touching the source; an upsert moves the version; invalidation reclaims") {
    import spark.implicits._
    import graft.core.ResultCache
    import graft.sources.Upsert
    val base = tempPath("rescache")
    val tbl = s"$base/tbl"
    val cache = s"$base/cache"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Upsert.appendVersion(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "g", "v"), tbl, 0L)
    def latest = Upsert.readLatest(spark, tbl, Seq("k"))
    def agg = latest.groupBy("g").agg(sum("v").as("sv"))
    val key1 = ResultCache.dataVersion(spark, tbl)

    val r1 = ResultCache.through(agg, key1, cache).collect().toSet
    assert(r1 == Set(Row("a", 30.0), Row("b", 30.0)))
    // PROOF the second serve never recomputes: delete the source table
    // outright — a recompute would fail, a cache hit cannot notice
    val probe = agg // plan analyzed while the source existed
    fs.delete(new org.apache.hadoop.fs.Path(tbl), true)
    assert(ResultCache.lookup(probe, key1, cache).isDefined)
    assert(ResultCache.through(probe, key1, cache).collect().toSet == r1,
      "a complete entry must serve with zero source reads")

    // an UPSERT is a new data version: the key moves, the old entry is
    // unreachable, and the re-populated result reflects the new rows
    Upsert.appendVersion(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "g", "v"), tbl, 0L)
    Upsert.appendVersion(Seq((2L, "a", 99.0)).toDF("k", "g", "v"), tbl, 1L)
    val key2 = ResultCache.dataVersion(spark, tbl)
    assert(key2 != key1, "an upsert version append must move the data version")
    assert(ResultCache.lookup(agg, key2, cache).isEmpty,
      "the new version must MISS — stale results can never serve")
    val r2 = ResultCache.through(agg, key2, cache).collect().toSet
    assert(r2 == Set(Row("a", 109.0), Row("b", 30.0)),
      "the repopulated entry must reflect the upsert")

    // explicit invalidation reclaims the old version's entries only
    assert(ResultCache.inventory(spark, cache).count() == 2)
    ResultCache.invalidateData(spark, cache, key1)
    assert(ResultCache.lookup(probe, key1, cache).isEmpty, "invalidated entries must not serve")
    assert(ResultCache.inventory(spark, cache).count() == 1)
    ResultCache.invalidateAll(spark, cache)
    assert(ResultCache.inventory(spark, cache).count() == 0)
  }

  test("wire surface: JDBC sessions reach graft SQL; auth, passwords, and session isolation compose") {
    // SURVEY §2.13 declares the reference's JDBC/Netty/Postgres wire
    // protocols served by Spark's own Thrift/Connect — this test turns
    // the claim into evidence on ONE in-process HiveThriftServer2 in
    // the production MULTI-SESSION mode (each connection forks its own
    // session state, extensions included):
    //  1. an injected graft FUNCTION and a graft admin STATEMENT (the
    //     injected parser) run over stock hive-jdbc;
    //  2. a READ_ONLY principal bound FROM THE JDBC SIDE is denied a
    //     write at the wire with the reference error shape while its
    //     reads keep flowing;
    //  3. passwords gate the wire bind (reference DaoAuthorizer): the
    //     wrong secret is refused, the right one restores service;
    //  4. two SIMULTANEOUS connections carry independent principals —
    //     one session's SET neither elevates nor restricts the other.
    // (One server per JVM: a second HiveServer2 start in-process never
    // rebinds, so every wire claim shares this server.)
    import org.apache.spark.sql.SparkSession
    val sock = new java.net.ServerSocket(0)
    val port = sock.getLocalPort
    sock.close()
    spark // force base session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      // production default: every connection forks its own session
      // state — the fork must carry the graft extensions
      .config("spark.sql.hive.thriftServer.singleSession", "false")
      .config("hive.server2.thrift.port", port.toString)
      // keep derby's metastore files out of the repo working dir
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${tempPath("metastore")};create=true")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    var server: Option[org.apache.hive.service.server.HiveServer2] = None
    try {
      graft.sql.UserRegistry.clear()
      server = Some(
        org.apache.spark.sql.hive.thriftserver.GraftThriftBridge.start(s2.sqlContext))
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      // the server binds asynchronously — retry the connect briefly
      def connect(): java.sql.Connection = {
        val deadline = System.currentTimeMillis() + 60000
        var conn: java.sql.Connection = null
        var lastErr: Throwable = null
        while (conn == null && System.currentTimeMillis() < deadline) {
          try conn = java.sql.DriverManager
            .getConnection(s"jdbc:hive2://localhost:$port/", "anonymous", "")
          catch { case e: Throwable => lastErr = e; Thread.sleep(500) }
        }
        assert(conn != null, s"thrift server never came up: $lastErr")
        conn
      }
      val conn = connect()
      try {
        val st = conn.createStatement()
        // 1. an injected graft FUNCTION evaluates over the wire
        val rs = st.executeQuery("SELECT graft_database() AS db")
        assert(rs.next() && rs.getString(1) == "graft", "injected function over JDBC")
        // 2. a graft admin STATEMENT parses through the injected parser
        val rs2 = st.executeQuery("SHOW VERSION")
        val versions = Iterator.continually(rs2)
          .takeWhile(_.next()).map(r => (r.getString(1), r.getString(2))).toList
        assert(versions.exists(_._1 == "graft"), s"graft statement over JDBC: $versions")
        // 3. a real query over data created IN THIS WIRE SESSION (temp
        // views are session-scoped — the fork owns its own)
        st.execute("CREATE TEMPORARY VIEW wire_t AS SELECT id FROM range(100)")
        val rs3 = st.executeQuery("SELECT count(*) AS c, sum(id) AS s FROM wire_t")
        assert(rs3.next() && rs3.getLong(1) == 100L && rs3.getLong(2) == 4950L)
        // 4. AUTHORIZATION composes with the wire (the reference's
        // QueryEngineRouter shape end-to-end): pin a READ_ONLY principal
        // on the session FROM THE JDBC SIDE, and a write statement is
        // denied at the wire with the reference error shape while reads
        // keep flowing for the same principal
        s2.sql("CREATE USER 'wire_reader' WITH ROLE = 'READ_ONLY'")
        val gt = graft.schema.GTable(
          "wire_m", timeColumn = "ts",
          dimensions = Seq(graft.schema.GDimension("dim", org.apache.spark.sql.types.StringType)),
          metrics = Seq(graft.schema.GMetric("m", org.apache.spark.sql.types.DoubleType)))
        graft.sql.UpsertTables.register(s2, gt, tempPath("wire_auth"))
        def put = "UPSERT INTO wire_m (ts, dim, m) VALUES (TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0)"
        st.execute("SET graft.sql.user = wire_reader")
        val deniedWire = intercept[java.sql.SQLException](st.executeQuery(put))
        assert(deniedWire.getMessage.contains("User wire_reader doesn't have enough permissions"),
          s"wire denial must carry the reference shape: ${deniedWire.getMessage}")
        val rs4 = st.executeQuery("SELECT count(*) AS c FROM wire_t")
        assert(rs4.next() && rs4.getLong(1) == 100L, "reads must still flow for READ_ONLY")
        // 5. PASSWORDS compose with the wire (reference DaoAuthorizer at
        // the login boundary): a password-protected principal bound with
        // the wrong secret is refused AT THE WIRE with the reference
        // shape; rebinding with the right secret restores service
        s2.sql("CREATE USER 'wire-secure' WITH PASSWORD = 'wire-s3cret' WITH ROLE = 'READ_ONLY'")
        st.execute("SET graft.sql.user = wire-secure")
        st.execute("SET graft.sql.password = wrong-guess")
        val badPw = intercept[java.sql.SQLException](st.executeQuery("SHOW VERSION"))
        assert(badPw.getMessage.contains("Invalid user or password"),
          s"wire must refuse a wrong password with the DaoAuthorizer shape: ${badPw.getMessage}")
        st.execute("SET graft.sql.password = wire-s3cret")
        val rs5 = st.executeQuery("SHOW VERSION")
        assert(rs5.next(), "the right password must restore service over the wire")
        st.execute("RESET graft.sql.user")
        st.execute("RESET graft.sql.password")
        // 6. SESSION ISOLATION: a second live connection stays the
        // unnamed ADMIN while the first is bound READ_ONLY — SET on one
        // session neither elevates nor restricts the other
        val connB = connect()
        try {
          val stB = connB.createStatement()
          st.execute("SET graft.sql.user = wire_reader")
          val deniedA = intercept[java.sql.SQLException](st.executeQuery(put))
          assert(deniedA.getMessage.contains("User wire_reader doesn't have enough permissions"),
            s"session A must be denied as its own principal: ${deniedA.getMessage}")
          // SIMULTANEOUSLY (A's session still bound), B's unnamed
          // session writes — A's SET must not have leaked into B…
          val rsB = stB.executeQuery(put)
          assert(rsB.next() && rsB.getLong(2) == 1L, "session B (unnamed ADMIN) must proceed")
          // …and B's success must not have elevated A
          val stillDenied = intercept[java.sql.SQLException](st.executeQuery(put))
          assert(stillDenied.getMessage.contains("doesn't have enough permissions"))
          // A's metadata reads keep flowing as READ_ONLY while bound
          val rsA = st.executeQuery("SHOW VERSION")
          assert(rsA.next(), "metadata reads must flow for session A's READ_ONLY principal")
        } finally connB.close()
        // 7. CONNECT-TIME credentials: hive-jdbc applies the URL's
        // ?conf_list at session open, so a principal binds at CONNECT
        // like the pg wire's startup auth — no in-band SET required,
        // and the very first statement already runs as that principal
        val connC = java.sql.DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/?graft.sql.user=wire_reader", "anonymous", "")
        try {
          val stC = connC.createStatement()
          val deniedC = intercept[java.sql.SQLException](stC.executeQuery(put))
          assert(deniedC.getMessage.contains("User wire_reader doesn't have enough permissions"),
            s"connect-time principal must gate the FIRST statement: ${deniedC.getMessage}")
          val rsC = stC.executeQuery("SELECT count(*) AS c FROM range(7)")
          assert(rsC.next() && rsC.getLong(1) == 7L, "reads must flow for the connect-time READ_ONLY principal")
        } finally connC.close()
      } finally conn.close()
    } finally {
      graft.sql.UserRegistry.clear()
      s2.conf.unset(graft.sql.GraftAuth.UserConfKey)
      server.foreach(_.stop())
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("upsert picks a deterministic winner for duplicate keys within one batch") {
    import spark.implicits._
    import graft.sources.Upsert
    val base = Seq((1L, "old")).toDF("key", "v")
    // two updates for key 1 arrive in the SAME batch (same __prio/__seq):
    // the content-hash tie-break must pick the same row on every run
    // and under any partitioning — not whichever the shuffle delivered first
    val updates = Seq((1L, "a"), (1L, "b"), (2L, "x")).toDF("key", "v")
    val winners = (1 to 3).map { i =>
      Upsert(base, updates.repartition(i), Seq("key"))
        .orderBy("key").as[(Long, String)].collect().toSeq
    }
    assert(winners.distinct.size == 1, s"nondeterministic upsert winners: $winners")
    assert(winners.head.map(_._1) == Seq(1L, 2L))
    assert(winners.head.head._2 != "old", "an update must win over base")
  }

  test("changelog: a null bucket key cycles dirty -> clean instead of looping forever") {
    import graft.sources.Changelog
    import spark.implicits._
    val dir = tempPath("nullbucket_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val batch = Seq(
      (Some(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")), 1.0),
      (Option.empty[java.sql.Timestamp], 2.0) // null ts -> null bucket
    ).toDF("ts", "value")
    Changelog.markDirty(batch, date_format(col("ts"), "yyyy-MM"), s"$dir/changelog")
    val dirty = Changelog.dirtyBuckets(spark, s"$dir/changelog")
    assert(dirty.map(_._1).toSet == Set("2024-01", Changelog.NullBucket),
      s"null key must surface as the sentinel: $dirty")
    Changelog.markClean(spark, s"$dir/changelog", dirty)
    assert(Changelog.dirtyBuckets(spark, s"$dir/changelog").isEmpty,
      "a cleaned null bucket must not stay dirty forever")
  }
}
