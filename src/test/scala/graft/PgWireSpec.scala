package graft

import java.io.{ BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream }
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

import graft.core.ResultCache
import graft.wire.PgWireServer

/**
 * The pg-wire frontend (reference yupana-postgres: a netty Postgres
 * emulation so stock pg clients run yupana SQL; graft.wire.PgWireServer
 * is the Spark-first equivalent) proven against BOTH a byte-level
 * protocol client (this file's [[PgWireSpec.PgClient]] — every frame
 * asserted) and the real thing: /usr/bin/psql (libpq), when present,
 * runs SELECTs, graft admin statements, and auth denials end-to-end.
 * The in-memory result tier the frontend consults is proven here too:
 * hits run zero Spark jobs, and every key part and bypass rule misses
 * when it must.
 */
class PgWireSpec extends SparkSpecBase {
  import PgWireSpec._

  private var owner: SparkSession = _
  private var server: PgWireServer = _
  private var port: Int = 0
  private var jobs: JobCounter = _

  override def beforeAll(): Unit = {
    // force the shared spec session first so this suite composes with
    // the rest of the run, then build the extension-carrying session
    // the wire forks from (PlatformSpec's pattern)
    SparkSpecBase.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    owner = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    graft.sql.UserRegistry.clear()
    owner.sql("CREATE USER 'pg_admin' WITH PASSWORD = 'pg-s3cret' WITH ROLE = 'ADMIN'")
    owner.sql("CREATE USER 'pg_reader' WITH PASSWORD = 'r3ad' WITH ROLE = 'READ_ONLY'")
    server = new PgWireServer(owner)
    server.start()
    port = server.getPort
    jobs = new JobCounter(owner.sparkContext)
    owner.sparkContext.addSparkListener(jobs)
  }

  override def afterAll(): Unit = {
    if (jobs != null) owner.sparkContext.removeSparkListener(jobs)
    if (server != null) server.stop()
    graft.sql.UserRegistry.clear()
    SparkSession.setActiveSession(SparkSpecBase.session)
    SparkSession.setDefaultSession(SparkSpecBase.session)
  }

  test("startup + cleartext auth + simple query round-trip, frame by frame") {
    val c = new PgClient(port)
    try {
      val (authReq, params) = c.login("pg_admin", "pg-s3cret")
      assert(authReq == 3, "server must request cleartext password (R,3) like the reference")
      assert(params.get("session_authorization").contains("pg_admin"))
      assert(params.contains("server_version"))
      assert(params.get("client_encoding").contains("UTF8"))

      val r = c.simpleQuery("SELECT 40 + 2 AS answer, 'graft' AS engine")
      assert(r.fields.map(_._1) == Seq("answer", "engine"))
      assert(r.fields.map(_._2) == Seq(23, 25), "int4 + text OIDs (reference PgTypes map)")
      assert(r.rows == Seq(Seq("42", "graft")))
      assert(r.complete == Seq("SELECT 1"))
    } finally c.close()
  }

  test("pg text conventions: bool t/f, NULL, numeric, timestamp, array") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      val r = c.simpleQuery(
        "SELECT true AS b, CAST(NULL AS INT) AS n, CAST(1.50 AS DECIMAL(5,2)) AS d, " +
          "TIMESTAMP '2024-03-01 12:30:00' AS ts, array(1, 2, 3) AS a")
      assert(r.fields.map(_._2) == Seq(16, 23, 1700, 1184, 25))
      val row = r.rows.head
      assert(row(0) == "t")
      assert(row(1) == null, "NULL travels as length -1")
      assert(row(2) == "1.50")
      assert(row(3) == "2024-03-01 12:30:00+00")
      assert(row(4) == "{1,2,3}")
    } finally c.close()
  }

  test("multi-statement simple query: quote-aware split, abort on first error") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      val r = c.simpleQuery("SELECT 1 AS a; SELECT 'x;y' AS s; SELECT 2 AS b")
      assert(r.complete == Seq("SELECT 1", "SELECT 1", "SELECT 1"))
      assert(r.rows == Seq(Seq("1"), Seq("x;y"), Seq("2")))

      val bad = c.simpleQuery("SELECT 1 AS a; SELECT broken_nonsense(; SELECT 2 AS b")
      assert(bad.rows == Seq(Seq("1")), "statements after the failure must not run")
      assert(bad.errors.nonEmpty, "the failing statement must surface ErrorResponse")
    } finally c.close()
  }

  test("graft statements run over the pg wire (the point of the frontend)") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      // injected function through the forked session
      val f = c.simpleQuery("SELECT graft_database() AS db")
      assert(f.rows == Seq(Seq("graft")))
      // graft admin statement through the injected parser
      val v = c.simpleQuery("SHOW VERSION")
      assert(v.rows.exists(_.head == "graft"), s"SHOW VERSION rows: ${v.rows}")
      // the reference preprocessor's catalog shim
      val cat = c.simpleQuery("select current_catalog")
      assert(cat.rows == Seq(Seq("graft")))
    } finally c.close()
  }

  test("a 3.x-minor startup negotiates down to 3.0 and proceeds") {
    // newer libpq can request protocol 3.2 with _pq_. options; the
    // server answers NegotiateProtocolVersion (3.0, naming unknown
    // options) and the connection then runs normally
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(60000)
      val o = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val buf = new ByteArrayOutputStream()
      val b = new DataOutputStream(buf)
      b.writeInt((3 << 16) | 2) // protocol 3.2
      Seq("user" -> "pg_admin", "database" -> "graft", "_pq_.fancy_option" -> "1")
        .foreach { case (k, v) => b.write(k.getBytes(UTF_8)); b.writeByte(0); b.write(v.getBytes(UTF_8)); b.writeByte(0) }
      b.writeByte(0)
      o.writeInt(4 + buf.size()); buf.writeTo(o); o.flush()
      def frame(): (Char, Array[Byte]) = {
        val t = in.read().toChar; val len = in.readInt()
        val body = new Array[Byte](len - 4); in.readFully(body); (t, body)
      }
      val (tv, bv) = frame()
      assert(tv == 'v', s"expected NegotiateProtocolVersion, got '$tv'")
      val nb = java.nio.ByteBuffer.wrap(bv)
      assert(nb.getInt == 196608, "negotiated down to 3.0")
      assert(nb.getInt == 1 && new String(bv, 8, bv.length - 9, UTF_8) == "_pq_.fancy_option")
      val (tr, br) = frame()
      assert(tr == 'R' && java.nio.ByteBuffer.wrap(br).getInt == 3, "then the normal auth flow")
      o.writeByte('p'); val pw = "pg-s3cret".getBytes(UTF_8)
      o.writeInt(4 + pw.length + 1); o.write(pw); o.writeByte(0); o.flush()
      var t = frame()
      while (t._1 != 'Z') t = frame() // AuthOk, ParameterStatus…, BackendKeyData
    } finally sock.close()
  }

  test("wrong password and unknown user are refused with the DaoAuthorizer shape") {
    val bad = new PgClient(port)
    try {
      val err = intercept[PgErrorException](bad.login("pg_admin", "wrong-guess"))
      assert(err.message == "Invalid user or password")
      assert(err.sqlState == "28P01")
    } finally bad.close()
    val unknown = new PgClient(port)
    try {
      val err = intercept[PgErrorException](unknown.login("nobody", "x"))
      assert(err.message == "Invalid user or password", "unknown name must be indistinguishable")
    } finally unknown.close()
  }

  test("per-statement authorization binds the WIRE principal; sessions are isolated") {
    val dir = s"${tempDir("pgwire_upsert")}/table"
    val gt = graft.schema.GTable(
      "pg_wire_m", timeColumn = "ts",
      dimensions = Seq(graft.schema.GDimension("dim", org.apache.spark.sql.types.StringType)),
      metrics = Seq(graft.schema.GMetric("m", org.apache.spark.sql.types.DoubleType)))
    graft.sql.UpsertTables.register(owner, gt, dir)
    val put = "UPSERT INTO pg_wire_m (ts, dim, m) VALUES (TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0)"

    val reader = new PgClient(port)
    val admin = new PgClient(port)
    try {
      reader.login("pg_reader", "r3ad")
      admin.login("pg_admin", "pg-s3cret")
      // the READ_ONLY wire principal is denied the write…
      val denied = reader.simpleQuery(put)
      assert(denied.errors.exists(_.contains("User pg_reader doesn't have enough permissions")),
        s"wire denial must carry the reference shape: ${denied.errors}")
      // …while the SIMULTANEOUS admin connection proceeds…
      val ok = admin.simpleQuery(put)
      assert(ok.errors.isEmpty, s"admin session must write: ${ok.errors}")
      // …and the reader's reads keep flowing as its own principal
      val read = reader.simpleQuery("SELECT count(*) AS c FROM range(10)")
      assert(read.rows == Seq(Seq("10")))
    } finally { reader.close(); admin.close() }
  }

  test("extended protocol: Parse/Bind/Describe/Execute/Sync with text and binary params") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      // text parameters, declared int4
      c.sendParse("s1", "SELECT $1 + $2 AS s", Seq(23, 23))
      c.sendBindText("p1", "s1", Seq("40", "2"))
      c.sendDescribePortal("p1")
      c.sendExecute("p1", 0)
      c.sendSync()
      assert(c.expect('1') != null, "ParseComplete")
      assert(c.expect('2') != null, "BindComplete")
      val desc = RowDesc.parse(c.expect('T'))
      assert(desc.map(_._1) == Seq("s") && desc.map(_._2) == Seq(23))
      assert(dataRow(c.expect('D')) == Seq("42"))
      assert(cstringOf(c.expect('C')) == "SELECT 1")
      c.expect('Z')

      // binary int8 parameter + reuse of the parsed statement
      c.sendParse("s2", "SELECT $1 * 2 AS d", Seq(20))
      val eight = java.nio.ByteBuffer.allocate(8).putLong(21L).array()
      c.sendBindBinary("p2", "s2", Seq(eight))
      c.sendDescribePortal("p2")
      c.sendExecute("p2", 0)
      c.sendSync()
      c.expect('1'); c.expect('2'); c.expect('T')
      assert(dataRow(c.expect('D')) == Seq("42"))
      cstringOf(c.expect('C'))
      c.expect('Z')

      // $n may repeat and appear out of order — named binding, not textual
      c.sendParse("s3", "SELECT $2 AS hi, $1 AS lo, $2 AS hi2", Seq(23, 23))
      c.sendBindText("p3", "s3", Seq("1", "9"))
      c.sendExecute("p3", 0)
      c.sendSync()
      c.expect('1'); c.expect('2')
      assert(dataRow(c.expect('D')) == Seq("9", "1", "9"))
      cstringOf(c.expect('C'))
      c.expect('Z')
    } finally c.close()
  }

  test("extended protocol: binary result format for the fixed-width types") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      c.sendParse("sb",
        "SELECT 42 AS i, CAST(9999999999 AS BIGINT) AS l, CAST(1.5 AS DOUBLE) AS d, " +
          "true AS b, 'héllo' AS s, TIMESTAMP '2000-01-01 00:00:01' AS ts, DATE '2000-01-02' AS dt",
        Seq.empty)
      c.sendBindBinaryResults("pb", "sb", Seq.empty)
      c.sendDescribePortal("pb")
      c.sendExecute("pb", 0)
      c.sendSync()
      c.expect('1'); c.expect('2')
      val descBody = c.expect('T')
      // RowDescription must advertise format code 1 on every column
      assert(RowDesc.parseFormats(descBody).forall(_ == 1))
      val cells = binaryCells(c.expect('D'))
      val bb = java.nio.ByteBuffer.wrap(cells(0)); assert(bb.getInt == 42)
      assert(java.nio.ByteBuffer.wrap(cells(1)).getLong == 9999999999L)
      assert(java.nio.ByteBuffer.wrap(cells(2)).getDouble == 1.5)
      assert(cells(3).length == 1 && cells(3)(0) == 1)
      assert(new String(cells(4), UTF_8) == "héllo")
      // pg epoch 2000-01-01: one second in = 1e6 micros; one day in = 1 day
      assert(java.nio.ByteBuffer.wrap(cells(5)).getLong == 1000000L)
      assert(java.nio.ByteBuffer.wrap(cells(6)).getInt == 1)
      cstringOf(c.expect('C'))
      c.expect('Z')

      // a type without a wire-stable binary form errors, Sync recovers
      c.sendParse("sd", "SELECT CAST(1.50 AS DECIMAL(5,2)) AS n", Seq.empty)
      c.sendBindBinaryResults("pd", "sd", Seq.empty)
      c.sendExecute("pd", 0)
      c.sendSync()
      c.expect('1'); c.expect('2')
      val (te, body) = c.read()
      assert(te == 'E' && new String(body, UTF_8).contains("request text"),
        s"decimal-as-binary must refuse clearly, got '$te'")
      c.expect('Z')
    } finally c.close()
  }

  test("extended protocol: row-limited Execute suspends and resumes the portal") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      c.sendParse("s", "SELECT id FROM range(5) ORDER BY id", Seq.empty)
      c.sendBindText("p", "s", Seq.empty)
      c.sendExecute("p", 3)
      c.sendExecute("p", 3)
      c.sendSync()
      c.expect('1'); c.expect('2')
      assert(dataRow(c.expect('D')) == Seq("0"))
      assert(dataRow(c.expect('D')) == Seq("1"))
      assert(dataRow(c.expect('D')) == Seq("2"))
      assert(c.expect('s') != null, "PortalSuspended after 3 of 5 rows")
      assert(dataRow(c.expect('D')) == Seq("3"))
      assert(dataRow(c.expect('D')) == Seq("4"))
      assert(cstringOf(c.expect('C')) == "SELECT 5", "resumed portal completes with the total count")
      c.expect('Z')
    } finally c.close()
  }

  test("extended protocol: error enters Sync-gated state; Describe statement shape") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      c.sendParse("bad", "SELECT nonsense(((", Seq.empty)
      c.sendBindText("pb", "bad", Seq.empty) // must be swallowed by error state
      c.sendExecute("pb", 0) // likewise
      c.sendSync()
      val (t1, _) = c.read()
      assert(t1 == 'E', s"Parse of broken SQL must ErrorResponse, got '$t1'")
      val (t2, _) = c.read()
      assert(t2 == 'Z', s"Bind/Execute must be swallowed until Sync, got '$t2'")

      c.sendParse("ok", "SELECT 1 AS one", Seq.empty)
      c.sendDescribeStatement("ok")
      c.sendSync()
      c.expect('1')
      val pd = c.expect('t') // ParameterDescription (0 params)
      assert(((pd(0) & 0xff) << 8 | (pd(1) & 0xff)) == 0)
      val desc = RowDesc.parse(c.expect('T'))
      assert(desc == Seq(("one", 23)))
      c.expect('Z')
    } finally c.close()
  }

  test("Describe statement must NOT execute an effectful command") {
    // Spark runs commands eagerly at sql(); the frontend derives a
    // command's schema from its parsed output instead, so the classic
    // JDBC Parse/Describe/Bind/Execute flow runs the statement ONCE
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      c.sendParse("mk", "CREATE USER 'pg_desc_probe' WITH ROLE = 'READ_ONLY'", Seq.empty)
      c.sendDescribeStatement("mk")
      c.sendSync()
      c.expect('1'); c.expect('t'); c.expect('Z')
      assert(!owner.sql("SHOW USERS").collect().exists(_.getString(0) == "pg_desc_probe"),
        "Describe alone must not have created the user")
      c.sendBindText("mkp", "mk", Seq.empty)
      c.sendExecute("mkp", 0)
      c.sendSync()
      c.expect('2'); c.expect('Z')
      assert(owner.sql("SHOW USERS").collect().exists(_.getString(0) == "pg_desc_probe"),
        "Execute must have created the user exactly then")
      owner.sql("DROP USER 'pg_desc_probe'")
    } finally c.close()
  }

  test("concurrent connections run queries simultaneously without cross-talk") {
    // 6 live connections × 20 queries each, all in flight together —
    // every session must see its OWN results (the per-connection
    // forked-session + per-thread active-session discipline)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val futs = (0 until 6).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val c = new PgClient(port)
            try {
              c.login("pg_admin", "pg-s3cret")
              (0 until 20).foreach { q =>
                val want = (w * 1000 + q).toString
                val r = c.simpleQuery(s"SELECT $want AS v, count(*) AS n FROM range(100)")
                assert(r.rows == Seq(Seq(want, "100")), s"worker $w query $q got ${r.rows}")
              }
            } finally c.close()
          }
        })
      }
      futs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("row streaming moves a 200k-row result through the wire") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      val t0 = System.nanoTime()
      val r = c.simpleQuery("SELECT id, id * 2 AS d FROM range(200000)")
      val secs = (System.nanoTime() - t0) / 1e9
      assert(r.rows.length == 200000)
      assert(r.complete == Seq("SELECT 200000"))
      assert(r.rows(199999) == Seq("199999", "399998"))
      // control-plane sanity, not a benchmark: 200k rows should cross
      // a loopback socket in single-digit seconds
      assert(secs < 30.0, s"200k rows took $secs s")
    } finally c.close()
  }

  test("CancelRequest with the BackendKeyData key interrupts a running statement") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      val (pid, secret) = c.backendKey
      assert(pid != 0, "server must issue a real backend key")
      // a statement that would run ~a minute on this session's 2 cores
      val slow = "SELECT sum(xxhash64(CAST(id AS STRING))) AS s FROM range(20000000000)"
      c.sendSimpleNoWait(slow)
      Thread.sleep(1500) // let the job start
      // the cancel travels on its OWN connection, pg-style
      val cs = new java.net.Socket("127.0.0.1", port)
      try {
        val o = new java.io.DataOutputStream(cs.getOutputStream)
        o.writeInt(16); o.writeInt(80877102); o.writeInt(pid); o.writeInt(secret)
        o.flush()
      } finally cs.close()
      val t0 = System.nanoTime()
      var frame = c.read()
      var sawError = false
      while (frame._1 != 'Z') {
        if (frame._1 == 'E') sawError = true
        frame = c.read()
      }
      val waited = (System.nanoTime() - t0) / 1e9
      assert(sawError, "the cancelled statement must surface an ErrorResponse")
      assert(waited < 30.0, s"cancel must interrupt long before completion (waited $waited s)")
      // the CONNECTION survives a cancel — only the statement died
      assert(c.simpleQuery("SELECT 7 AS ok").rows == Seq(Seq("7")))
    } finally c.close()
  }

  test("Close, unknown-portal errors, and a wrong cancel key") {
    val c = new PgClient(port)
    try {
      c.login("pg_admin", "pg-s3cret")
      // Close a parsed statement: later Bind against it must error
      c.sendParse("sc", "SELECT 1 AS one", Seq.empty)
      c.sendClose('S', "sc")
      c.sendSync()
      c.expect('1'); c.expect('3'); c.expect('Z') // ParseComplete, CloseComplete
      c.sendBindText("pc", "sc", Seq.empty)
      c.sendSync()
      val (t1, b1) = c.read()
      assert(t1 == 'E' && new String(b1, UTF_8).contains("Unknown prepare sc"))
      c.expect('Z')
      // Execute against a portal that never bound
      c.sendExecute("nope", 0)
      c.sendSync()
      val (t2, b2) = c.read()
      assert(t2 == 'E' && new String(b2, UTF_8).contains("Unknown portal nope"))
      c.expect('Z')
      // a CancelRequest with the WRONG secret is ignored silently and
      // the connection keeps serving
      val (pid, secret) = c.backendKey
      val cs = new java.net.Socket("127.0.0.1", port)
      try {
        val o = new java.io.DataOutputStream(cs.getOutputStream)
        o.writeInt(16); o.writeInt(80877102); o.writeInt(pid); o.writeInt(secret + 1)
        o.flush()
      } finally cs.close()
      assert(c.simpleQuery("SELECT 5 AS ok").rows == Seq(Seq("5")))
    } finally c.close()
  }

  test("wire logins validate against the parent's STORE-BOUND registry") {
    // newSession() does not inherit runtime conf — the server carries
    // the graft control plane onto each connection's fork, so a
    // deployment that binds graft.sql.userStore.path at runtime
    // authenticates wire logins against that store, not the in-memory
    // slot
    val store = s"${tempDir("pgwire_store")}/users"
    try {
      owner.conf.set(graft.sql.UserRegistry.StorePathKey, store)
      owner.sql("CREATE USER 'pg_store_user' WITH PASSWORD = 'st0re' WITH ROLE = 'READ_ONLY'")
      graft.sql.UserRegistry.clear() // wipe every in-memory slot: only the snapshot file knows the user
      val c = new PgClient(port)
      try {
        c.login("pg_store_user", "st0re") // must reload from the bound store
        assert(c.simpleQuery("SELECT 1 AS x").rows == Seq(Seq("1")))
      } finally c.close()
      // and a wrong password against the store-bound registry still refuses
      val bad = new PgClient(port)
      try {
        val err = intercept[PgErrorException](bad.login("pg_store_user", "nope"))
        assert(err.message == "Invalid user or password")
      } finally bad.close()
    } finally {
      owner.conf.unset(graft.sql.UserRegistry.StorePathKey)
      graft.sql.UserRegistry.clear()
      owner.sql("CREATE USER 'pg_admin' WITH PASSWORD = 'pg-s3cret' WITH ROLE = 'ADMIN'")
      owner.sql("CREATE USER 'pg_reader' WITH PASSWORD = 'r3ad' WITH ROLE = 'READ_ONLY'")
    }
  }

  // ---- the in-memory result tier ------------------------------------

  /** Spark jobs started while `body` ran, on any thread. */
  private def jobsDuring(body: => Unit): Long = jobs.during(body)

  /** A catalog table `name` (x = 0 until rows, k = x % 7) over its own
    * parquet dir, which is returned; dropped after `body`. */
  private def withFileTable(name: String, rows: Long)(body: String => Unit): Unit = {
    val dir = s"${tempDir(name)}/t"
    owner.range(rows).selectExpr("id AS x", "id % 7 AS k").write.parquet(dir)
    owner.sql(s"CREATE TABLE $name USING parquet LOCATION '$dir'")
    try body(dir)
    finally { owner.sql(s"DROP TABLE IF EXISTS $name"); () }
  }

  private def admin(body: PgClient => Unit): Unit = {
    val c = new PgClient(port)
    try { c.login("pg_admin", "pg-s3cret"); body(c) }
    finally c.close()
  }

  private def tier = ResultCache.tierStats

  test("result tier: a repeated SELECT streams identical rows and tag with zero Spark jobs") {
    withFileTable("pgwire_tier_repeat", 1000) { _ =>
      admin { c =>
        val q = "SELECT k, count(*) AS n, sum(x) AS s FROM pgwire_tier_repeat GROUP BY k ORDER BY k"
        val t0 = tier
        var first: SimpleResult = null
        assert(jobsDuring { first = c.simpleQuery(q) } > 0, "the first execution runs Spark")
        assert(first.errors.isEmpty && first.rows.length == 7 && first.complete == Seq("SELECT 7"))
        var again: SimpleResult = null
        val jobs = jobsDuring { again = c.simpleQuery(q) }
        assert(again == first, "a hit returns the same fields, rows and tag")
        assert(jobs == 0, s"a hit must run no Spark job, ran $jobs")
        val t1 = tier
        assert(t1.misses == t0.misses + 1 && t1.hits == t0.hits + 1 && t1.entries == t0.entries + 1,
          s"$t0 -> $t1")

        // SHOW RESULT CACHE without a directory reports the tier, over the wire
        val show = c.simpleQuery("SHOW RESULT CACHE")
        assert(show.fields.map(_._1) == Seq("entries", "bytes", "hits", "misses", "bypassed"))
        assert(show.fields.map(_._2).forall(_ == 20), "int8 counters")
        val row = show.rows.head.map(_.toLong)
        assert(row(0) == t1.entries && row(1) == t1.bytes && row(2) == t1.hits && row(3) == t1.misses)
      }
    }
  }

  test("result tier: SHOW RESULT CACHE needs Metadata read permission") {
    owner.sql("CREATE USER 'pg_off' WITH PASSWORD = 'off' WITH ROLE = 'DISABLED'")
    try {
      val reader = new PgClient(port)
      try {
        reader.login("pg_reader", "r3ad")
        val show = reader.simpleQuery("SHOW RESULT CACHE")
        assert(show.errors.isEmpty && show.rows.length == 1, s"READ_ONLY reads metadata: ${show.errors}")
      } finally reader.close()
      val off = new PgClient(port)
      try {
        off.login("pg_off", "off")
        val denied = off.simpleQuery("SHOW RESULT CACHE")
        assert(denied.errors.exists(_.contains("User pg_off doesn't have enough permissions")),
          s"DISABLED holds no metadata read: ${denied.errors}")
      } finally off.close()
    } finally { owner.sql("DROP USER 'pg_off'"); () }
  }

  test("result tier: appended input files and a refresh force a miss that returns the new rows") {
    withFileTable("pgwire_tier_input", 100) { dir =>
      admin { c =>
        val q = "SELECT count(*) AS n, sum(x) AS s FROM pgwire_tier_input"
        assert(c.simpleQuery(q).rows == Seq(Seq("100", "4950")))
        val t0 = tier
        assert(c.simpleQuery(q).rows == Seq(Seq("100", "4950")))
        assert(tier.hits == t0.hits + 1, "unchanged inputs hit")
        owner.range(100, 150).selectExpr("id AS x", "id % 7 AS k").write.mode("append").parquet(dir)
        assert(c.simpleQuery("REFRESH TABLE pgwire_tier_input").errors.isEmpty)
        val t1 = tier
        assert(c.simpleQuery(q).rows == Seq(Seq("150", "11175")), "the new rows are read")
        val t2 = tier
        assert(t2.misses == t1.misses + 1 && t2.hits == t1.hits, s"$t1 -> $t2")
      }
    }
  }

  test("result tier: rand() and current_timestamp() statements are never served from the tier") {
    withFileTable("pgwire_tier_volatile", 50) { _ =>
      admin { c =>
        val t0 = tier
        val q = "SELECT x, rand() AS r FROM pgwire_tier_volatile ORDER BY x"
        val (a, b) = (c.simpleQuery(q), c.simpleQuery(q))
        assert(a.errors.isEmpty && a.rows != b.rows, s"each rand() statement re-executes: ${a.errors}")
        val now = "SELECT max(x) AS m, current_timestamp() AS t FROM pgwire_tier_volatile"
        c.simpleQuery(now); c.simpleQuery(now)
        val t1 = tier
        assert(t1.bypassed == t0.bypassed + 4 && t1.hits == t0.hits && t1.misses == t0.misses &&
          t1.entries == t0.entries, s"$t0 -> $t1")
      }
    }
  }

  test("result tier: SET spark.sql.session.timeZone between identical statements forces a miss") {
    withFileTable("pgwire_tier_conf", 24) { _ =>
      admin { c =>
        val q = "SELECT min(x) AS lo, max(x) AS hi FROM pgwire_tier_conf"
        val first = c.simpleQuery(q)
        val t0 = tier
        c.simpleQuery("SET spark.sql.session.timeZone=America/New_York")
        assert(c.simpleQuery(q).rows == first.rows)
        val t1 = tier
        assert(t1.misses == t0.misses + 1 && t1.hits == t0.hits, s"a changed conf must miss: $t0 -> $t1")
        c.simpleQuery("SET spark.sql.session.timeZone=UTC")
        assert(c.simpleQuery(q).rows == first.rows)
        assert(tier.hits == t1.hits + 1, "the original conf hits its entry again")
      }
    }
  }

  test("result tier: a result past the entry bound streams whole and is not retained") {
    withFileTable("pgwire_tier_big", 200000) { _ =>
      admin { c =>
        val q = "SELECT x, x * 2 AS d FROM pgwire_tier_big"
        val t0 = tier
        val r = c.simpleQuery(q)
        assert(r.rows.length == 200000 && r.complete == Seq("SELECT 200000"))
        val t1 = tier
        assert(t1.entries == t0.entries && t1.bytes == t0.bytes && t1.misses == t0.misses + 1,
          s"a ${ResultCache.EntryMaxBytes}-byte entry bound must not retain 200k rows: $t0 -> $t1")
        val again = c.simpleQuery(q)
        assert(again.rows.toSet == r.rows.toSet && tier.hits == t1.hits, "the repeat runs again")
      }
    }
  }

  test("result tier: a cancelled statement publishes nothing") {
    withFileTable("pgwire_tier_slow", 100000) { _ =>
      val c = new PgClient(port)
      try {
        c.login("pg_admin", "pg-s3cret")
        val (pid, secret) = c.backendKey
        val t0 = tier
        c.sendSimpleNoWait(
          "SELECT sum(xxhash64(a.x, b.x)) AS s FROM pgwire_tier_slow a CROSS JOIN pgwire_tier_slow b")
        Thread.sleep(1500)
        val cs = new java.net.Socket("127.0.0.1", port)
        try {
          val o = new java.io.DataOutputStream(cs.getOutputStream)
          o.writeInt(16); o.writeInt(80877102); o.writeInt(pid); o.writeInt(secret)
          o.flush()
        } finally cs.close()
        var frame = c.read()
        var sawError = false
        while (frame._1 != 'Z') {
          if (frame._1 == 'E') sawError = true
          frame = c.read()
        }
        assert(sawError, "the cancelled statement must surface an ErrorResponse")
        val t1 = tier
        assert(t1.misses == t0.misses + 1, "the statement was eligible for the tier")
        assert(t1.entries == t0.entries && t1.bytes == t0.bytes, s"nothing is published: $t0 -> $t1")
      } finally c.close()
    }
  }

  test("result tier: a row-limited Execute over a hit suspends and resumes with identical rows") {
    withFileTable("pgwire_tier_portal", 5) { _ =>
      admin { c =>
        val q = "SELECT x FROM pgwire_tier_portal ORDER BY x"
        // the simple-query path populates; the extended path hits the same entry
        assert(c.simpleQuery(q).rows == (0 until 5).map(i => Seq(i.toString)))
        val t0 = tier
        val jobs = jobsDuring {
          c.sendParse("s", q, Seq.empty)
          c.sendBindText("p", "s", Seq.empty)
          c.sendExecute("p", 3)
          c.sendExecute("p", 3)
          c.sendSync()
          c.expect('1'); c.expect('2')
          assert((0 until 3).map(_ => dataRow(c.expect('D'))) == Seq(Seq("0"), Seq("1"), Seq("2")))
          assert(c.expect('s') != null, "PortalSuspended after 3 of 5 rows")
          assert((3 until 5).map(_ => dataRow(c.expect('D'))) == Seq(Seq("3"), Seq("4")))
          assert(cstringOf(c.expect('C')) == "SELECT 5")
          c.expect('Z')
        }
        assert(jobs == 0, s"the portal over a hit must run no Spark job, ran $jobs")
        assert(tier.hits == t0.hits + 1)
      }
    }
  }

  // ---- the real client ------------------------------------------------
  private def psqlAvailable: Boolean = new java.io.File("/usr/bin/psql").canExecute

  private def psql(user: String, password: String, sql: String): (Int, String, String) = {
    val pb = new ProcessBuilder(
      "/usr/bin/psql", "-h", "127.0.0.1", "-p", port.toString, "-U", user,
      "-d", "graft", "-v", "ON_ERROR_STOP=1", "-At", "-c", sql)
    pb.environment().put("PGPASSWORD", password)
    pb.environment().put("PGCONNECT_TIMEOUT", "20")
    val p = pb.start()
    val outS = new String(p.getInputStream.readAllBytes(), UTF_8)
    val errS = new String(p.getErrorStream.readAllBytes(), UTF_8)
    val rc = p.waitFor()
    (rc, outS, errS)
  }

  test("psql (real libpq) runs SELECTs and graft statements against the frontend") {
    assume(psqlAvailable, "psql not installed in this environment")
    val (rc, outS, errS) = psql("pg_admin", "pg-s3cret",
      "SELECT 6 * 7 AS answer, graft_database() AS db")
    assert(rc == 0, s"psql failed: $errS")
    assert(outS.trim == "42|graft", s"unaligned tuple output: '$outS'")

    val (rc2, out2, err2) = psql("pg_admin", "pg-s3cret", "SHOW VERSION")
    assert(rc2 == 0, s"psql SHOW VERSION failed: $err2")
    assert(out2.contains("graft"), s"graft admin statement through libpq: '$out2'")

    val (rc3, out3, _) = psql("pg_admin", "pg-s3cret",
      "SELECT id, id * id AS sq FROM range(3) ORDER BY id")
    assert(rc3 == 0 && out3.trim.linesIterator.toSeq == Seq("0|0", "1|1", "2|4"), s"'$out3'")
  }

  test("psql: wrong password refused at the wire; READ_ONLY write denied through libpq") {
    // (psql 15 has no \bind — the extended protocol is exercised by
    // the byte-level client above; \bind-based libpq coverage needs
    // psql >= 16)
    assume(psqlAvailable, "psql not installed in this environment")
    val (rc, _, errS) = psql("pg_admin", "wrong", "SELECT 1")
    assert(rc != 0 && errS.contains("Invalid user or password"), s"stderr: $errS")

    val dir = s"${tempDir("pgwire_psql")}/table"
    val gt = graft.schema.GTable(
      "pg_psql_m", timeColumn = "ts",
      dimensions = Seq(graft.schema.GDimension("dim", org.apache.spark.sql.types.StringType)),
      metrics = Seq(graft.schema.GMetric("m", org.apache.spark.sql.types.DoubleType)))
    graft.sql.UpsertTables.register(owner, gt, dir)
    val (rc2, _, err2) = psql("pg_reader", "r3ad",
      "UPSERT INTO pg_psql_m (ts, dim, m) VALUES (TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0)")
    assert(rc2 != 0 && err2.contains("doesn't have enough permissions"), s"stderr: $err2")
  }
}

object PgWireSpec {

  case class SimpleResult(
      fields: Seq[(String, Int)],
      rows: Seq[Seq[String]],
      complete: Seq[String],
      errors: Seq[String])

  case class PgErrorException(sqlState: String, message: String)
    extends RuntimeException(s"$sqlState: $message")

  def cstringOf(body: Array[Byte]): String = new String(body.takeWhile(_ != 0), UTF_8)

  def dataRow(body: Array[Byte]): Seq[String] = {
    val b = java.nio.ByteBuffer.wrap(body)
    val n = b.getShort.toInt
    (0 until n).map { _ =>
      val len = b.getInt
      if (len < 0) null
      else { val a = new Array[Byte](len); b.get(a); new String(a, UTF_8) }
    }
  }

  def binaryCells(body: Array[Byte]): Seq[Array[Byte]] = {
    val b = java.nio.ByteBuffer.wrap(body)
    val n = b.getShort.toInt
    (0 until n).map { _ =>
      val len = b.getInt
      if (len < 0) null
      else { val a = new Array[Byte](len); b.get(a); a }
    }
  }

  object RowDesc {
    def parseFormats(body: Array[Byte]): Seq[Int] = {
      val b = java.nio.ByteBuffer.wrap(body)
      val n = b.getShort.toInt
      (0 until n).map { _ =>
        var c = b.get()
        while (c != 0) c = b.get()
        b.getInt; b.getShort; b.getInt; b.getShort; b.getInt
        b.getShort.toInt // format code
      }
    }

    def parse(body: Array[Byte]): Seq[(String, Int)] = {
      val b = java.nio.ByteBuffer.wrap(body)
      val n = b.getShort.toInt
      (0 until n).map { _ =>
        val sb = new StringBuilder
        var c = b.get()
        while (c != 0) { sb.append(c.toChar); c = b.get() }
        b.getInt; b.getShort // table oid, attnum
        val oid = b.getInt
        b.getShort; b.getInt; b.getShort // typlen, typmod, format
        (sb.toString, oid)
      }
    }
  }

  /** Minimal byte-level pg v3 client — the protocol oracle. */
  class PgClient(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(120000)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

    def close(): Unit = { try sock.close() catch { case _: java.io.IOException => () } }

    private def msg(tag: Char)(body: DataOutputStream => Unit): Unit = {
      val buf = new ByteArrayOutputStream()
      body(new DataOutputStream(buf))
      out.writeByte(tag)
      out.writeInt(4 + buf.size())
      buf.writeTo(out)
    }

    private def cstr(o: DataOutputStream, s: String): Unit = { o.write(s.getBytes(UTF_8)); o.writeByte(0) }

    def read(): (Char, Array[Byte]) = {
      val t = in.read()
      if (t < 0) throw new java.io.EOFException("server closed")
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      (t.toChar, body)
    }

    /** Read frames until `tag`, failing fast on ErrorResponse. */
    def expect(tag: Char): Array[Byte] = {
      var frame = read()
      while (frame._1 != tag) {
        if (frame._1 == 'E') {
          val (state, message) = parseError(frame._2)
          throw PgErrorException(state, message)
        }
        frame = read()
      }
      frame._2
    }

    private def parseError(body: Array[Byte]): (String, String) = {
      var i = 0
      var state = ""
      var message = ""
      while (i < body.length && body(i) != 0) {
        val field = body(i).toChar
        i += 1
        val start = i
        while (body(i) != 0) i += 1
        val v = new String(body, start, i - start, UTF_8)
        i += 1
        if (field == 'C') state = v
        if (field == 'M') message = v
      }
      (state, message)
    }

    /** BackendKeyData from login, for CancelRequest. */
    var backendKey: (Int, Int) = (0, 0)

    /** Startup + cleartext password; returns (authRequestCode, ParameterStatus map). */
    def login(user: String, password: String): (Int, Map[String, String]) = {
      val buf = new ByteArrayOutputStream()
      val o = new DataOutputStream(buf)
      o.writeInt(196608)
      cstr(o, "user"); cstr(o, user)
      cstr(o, "database"); cstr(o, "graft")
      o.writeByte(0)
      out.writeInt(4 + buf.size())
      buf.writeTo(out)
      out.flush()
      val (t, body) = read()
      if (t == 'E') { val (s, m) = parseError(body); throw PgErrorException(s, m) }
      assert(t == 'R', s"expected auth request, got '$t'")
      val authCode = java.nio.ByteBuffer.wrap(body).getInt
      msg('p')(cstr(_, password))
      out.flush()
      var params = Map.empty[String, String]
      var frame = read()
      while (frame._1 != 'Z') {
        frame._1 match {
          case 'E' => val (s, m) = parseError(frame._2); throw PgErrorException(s, m)
          case 'S' =>
            val b = frame._2
            val z = b.indexOf(0)
            params += new String(b, 0, z, UTF_8) ->
              new String(b, z + 1, b.indexOf(0, z + 1) - z - 1, UTF_8)
          case 'K' =>
            val b = java.nio.ByteBuffer.wrap(frame._2)
            backendKey = (b.getInt, b.getInt)
          case _ => () // R(0)
        }
        frame = read()
      }
      (authCode, params)
    }

    /** Fire a simple query without reading the reply (cancel tests). */
    def sendSimpleNoWait(sql: String): Unit = { msg('Q')(cstr(_, sql)); out.flush() }

    def simpleQuery(sql: String): SimpleResult = {
      msg('Q')(cstr(_, sql))
      out.flush()
      var fields = Seq.empty[(String, Int)]
      val rows = Seq.newBuilder[Seq[String]]
      val complete = Seq.newBuilder[String]
      val errors = Seq.newBuilder[String]
      var frame = read()
      while (frame._1 != 'Z') {
        frame._1 match {
          case 'T' => fields = RowDesc.parse(frame._2)
          case 'D' => rows += dataRow(frame._2)
          case 'C' => complete += cstringOf(frame._2)
          case 'E' => errors += parseError(frame._2)._2
          case _ => ()
        }
        frame = read()
      }
      SimpleResult(fields, rows.result(), complete.result(), errors.result())
    }

    def sendParse(name: String, sql: String, oids: Seq[Int]): Unit = {
      msg('P') { o => cstr(o, name); cstr(o, sql); o.writeShort(oids.length); oids.foreach(o.writeInt) }
      out.flush()
    }

    def sendBindText(portal: String, stmt: String, params: Seq[String]): Unit = {
      msg('B') { o =>
        cstr(o, portal); cstr(o, stmt)
        o.writeShort(0) // all-text param formats
        o.writeShort(params.length)
        params.foreach { p => val b = p.getBytes(UTF_8); o.writeInt(b.length); o.write(b) }
        o.writeShort(0) // default (text) result formats
      }
      out.flush()
    }

    def sendBindBinary(portal: String, stmt: String, params: Seq[Array[Byte]]): Unit = {
      msg('B') { o =>
        cstr(o, portal); cstr(o, stmt)
        o.writeShort(1); o.writeShort(1) // one format code: binary, for all params
        o.writeShort(params.length)
        params.foreach { b => o.writeInt(b.length); o.write(b) }
        o.writeShort(0)
      }
      out.flush()
    }

    /** Bind with text params but BINARY result format for all columns. */
    def sendBindBinaryResults(portal: String, stmt: String, params: Seq[String]): Unit = {
      msg('B') { o =>
        cstr(o, portal); cstr(o, stmt)
        o.writeShort(0)
        o.writeShort(params.length)
        params.foreach { p => val b = p.getBytes(UTF_8); o.writeInt(b.length); o.write(b) }
        o.writeShort(1); o.writeShort(1) // one result format code: binary for every column
      }
      out.flush()
    }

    def sendClose(kind: Char, name: String): Unit = { msg('C') { o => o.writeByte(kind); cstr(o, name) }; out.flush() }
    def sendDescribePortal(name: String): Unit = { msg('D') { o => o.writeByte('P'); cstr(o, name) }; out.flush() }
    def sendDescribeStatement(name: String): Unit = { msg('D') { o => o.writeByte('S'); cstr(o, name) }; out.flush() }
    def sendExecute(portal: String, limit: Int): Unit = { msg('E') { o => cstr(o, portal); o.writeInt(limit) }; out.flush() }
    def sendSync(): Unit = { msg('S')(_ => ()); out.flush() }
  }
}
