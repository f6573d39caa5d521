package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The injected SQL statement surface (GraftSqlParser via
 * SparkSessionExtensions.injectParser): the reference's admin
 * statements parse and run as first-class SQL, and the rest of the
 * language still routes to Spark's parser.
 */
class AdminSqlSpec extends SparkSpecBase {

  test("admin SQL statements run through the injected parser") {
    spark // force base session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      // extension-injected functions resolve in plain SQL
      assert(s2.sql("SELECT graft_database() AS db").head().getString(0) == "graft")

      // attach the session metrics store, run a query, then SHOW it
      graft.core.QueryMetrics.forSession(s2)
      s2.range(100).agg(sum(col("id"))).collect()
      val deadline = System.currentTimeMillis() + 5000
      while (graft.core.QueryMetrics.forSession(s2).snapshot().isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)

      val shown = s2.sql("SHOW QUERY METRICS LIMIT 5")
      assert(shown.columns.toSeq == Seq("query", "duration_ms", "output_rows", "state"))
      assert(shown.count() >= 1)

      // the reference's MetricsFilter forms: state / query_id equality
      assert(s2.sql("SHOW QUERY METRICS WHERE STATE = 'FINISHED' LIMIT 5").count() >= 1)
      assert(s2.sql("SHOW QUERY METRICS WHERE QUERY_ID = 'no-such-query'").count() == 0)
      assert(s2.sql("DELETE QUERY METRICS WHERE QUERY_ID = 'no-such-query'").head().getLong(0) == 0)

      val deleted = s2.sql("DELETE QUERY METRICS").head().getLong(0)
      assert(deleted >= 1)

      assert(s2.sql("KILL QUERY 'no-such-group'").head().getString(1) == "CANCELLED")
      assert(s2.sql("KILL QUERY WHERE QUERY_ID = 'no-such-group'").head().getString(1) == "CANCELLED")

      val cl = tempPath("adminsql_cl")
      val fs = org.apache.hadoop.fs.FileSystem.get(s2.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(cl), true)
      graft.sources.Changelog.markDirty(
        s2.range(1).select(lit("2024-03").as("b")), col("b"), cl)
      val rows = s2.sql(s"SHOW UPDATES_INTERVALS '$cl'").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("2024-03"))

      // routes registered with the rewrite rule surface over SQL
      graft.sql.RollupRoutes.register(graft.sql.RollupRoute(
        factPathContains = "/tmp/adminsql_fact", rollupPath = "/tmp/adminsql_roll",
        timeCol = "ts", grain = "day", dims = Seq("d"),
        sums = Map("m" -> "sm"), countCol = Some("c"), counts = Map("m" -> "cm")))
      try {
        val routes = s2.sql("SHOW ROLLUP ROUTES").collect()
        assert(routes.exists(r => r.getString(1) == "/tmp/adminsql_roll" &&
          r.getString(3) == "day" && r.getString(5) == "m->sm" && r.getString(7) == "m->cm"))
      } finally graft.sql.RollupRoutes.unregister("/tmp/adminsql_roll")

      // SHOW VERSION: engine + spark rows
      val ver = s2.sql("SHOW VERSION").collect()
      assert(ver.map(_.getString(0)).toSet == Set("graft", "spark"))
      assert(ver.find(_.getString(0) == "spark").get.getString(1) == s2.version)

      // SHOW EXTERNAL LINKS: config-declared catalogs surface, password never echoed
      graft.sources.DeclaredLinks.clear()
      graft.sources.DeclaredLinks.register(graft.sources.JsonCatalogs.parse(
        """{"externalLinks":[{"description":{"linkName":"adminLink",
          |"dimensionName":"user_id","fieldsNames":["orgName"],"tables":["events"]},
          |"connection":{"url":"jdbc:derby:/tmp/nowhere","password":"secret"}}]}""".stripMargin).head)
      try {
        val links = s2.sql("SHOW EXTERNAL LINKS").collect()
        assert(links.exists(r => r.getString(0) == "adminLink" &&
          r.getString(1) == "user_id" && r.getString(2) == "admin_link" &&
          r.getString(4) == "orgName"))
        assert(!links.exists(_.toSeq.exists(v => v != null && v.toString.contains("secret"))))
      } finally graft.sources.DeclaredLinks.unregister("adminLink")

      // SHOW INDEX DRIFT: the ivfDriftFraction probe as an admin
      // statement — low against in-distribution vectors, ~1.0 against a
      // shifted batch or a missing index
      val idxPath = tempDir("adminsql_ivf")
      val embPath = s"$sfDir/embeddings.parquet"
      val fs2 = org.apache.hadoop.fs.FileSystem.get(s2.sparkContext.hadoopConfiguration)
      fs2.delete(new org.apache.hadoop.fs.Path(idxPath), true)
      graft.operators.Ann.buildIvfIndex(s2, s2.read.parquet(embPath), idxPath, numCells = 16)
      val drift = s2.sql(s"SHOW INDEX DRIFT FOR '$idxPath' USING '$embPath'").head()
      assert(drift.getString(0) == idxPath && drift.getString(1) == embPath)
      assert(drift.getDouble(2) <= 0.10,
        s"in-distribution drift should be ~0.05, got ${drift.getDouble(2)}")
      val shiftedView = "adminsql_shifted"
      s2.read.parquet(embPath)
        .select(col("vec_id"), transform(col("embedding"), x => x + lit(50.0f)).as("embedding"))
        .createOrReplaceTempView(shiftedView)
      val drifted = s2.sql(s"SHOW INDEX DRIFT FOR '$idxPath' USING '$shiftedView'").head()
      assert(drifted.getDouble(2) >= 0.9,
        s"shifted batch should drift ~1.0, got ${drifted.getDouble(2)}")
      assert(s2.sql(s"SHOW INDEX DRIFT FOR '/tmp/no_such_index' USING '$embPath'")
        .head().getDouble(2) == 1.0, "missing index must report 1.0, not crash")

      // the IVF-PQ index writes the SAME stats/centroids contract, so
      // the drift statement works on it unchanged — the ops surface is
      // one statement for both index families
      val pqPath = tempDir("adminsql_ivfpq")
      fs2.delete(new org.apache.hadoop.fs.Path(pqPath), true)
      graft.operators.Ann.buildIvfPqIndex(s2, s2.read.parquet(embPath), pqPath,
        numCells = 16, m = 16, codebookSize = 16)
      assert(s2.sql(s"SHOW INDEX DRIFT FOR '$pqPath' USING '$embPath'").head().getDouble(2) <= 0.10,
        "drift statement must read the IVF-PQ index's stats contract")

      // vector admission lifecycle PURELY through SQL: ADMIT VECTORS
      // appends a searchable delta shard and reports the drift signal,
      // SHOW VECTOR INDEX inventories base + shards, PROMOTE VECTOR
      // INDEX DELTA folds — the statement surface of the text-index
      // lifecycle, mirrored for the vector index
      val vIdx = tempDir("adminsql_vecadmit")
      fs2.delete(new org.apache.hadoop.fs.Path(vIdx), true)
      val embAll = s2.read.parquet(embPath)
      graft.operators.Ann.buildIvfIndex(
        s2, embAll.filter(col("vec_id") % 2 === 0), vIdx, numCells = 16)
      embAll.filter(col("vec_id") % 2 === 1).createOrReplaceTempView("adminsql_newvecs")
      val vadm = s2.sql(s"ADMIT VECTORS 'day1' FROM adminsql_newvecs INTO '$vIdx'").head()
      assert(vadm.getString(0) == vIdx && vadm.getString(1) == "day1")
      assert(vadm.getLong(2) == embAll.filter(col("vec_id") % 2 === 1).count(),
        s"every new vector lands in the shard: $vadm")
      assert(vadm.getDouble(3) >= 0.0 && vadm.getDouble(3) <= 1.0,
        s"drift fraction reported with the admission: $vadm")
      val vinv = s2.sql(s"SHOW VECTOR INDEX FOR '$vIdx'").collect()
      assert(vinv.map(_.getString(1)).toSeq == Seq("__base", "day1"), vinv.mkString(","))
      assert(vinv.map(_.getLong(2)).sum == embAll.count(),
        "inventory must account for every vector across base + shards")
      val vprom = s2.sql(s"PROMOTE VECTOR INDEX DELTA '$vIdx'").head()
      assert(vprom.getLong(1) == 1L && vprom.getLong(2) == embAll.count(),
        s"one shard folded, base holds the full corpus: $vprom")
      assert(s2.sql(s"SHOW VECTOR INDEX FOR '$vIdx'").collect()
        .map(_.getString(1)).toSeq == Seq("__base"))
      assert(s2.sql("SHOW VECTOR INDEX FOR '/tmp/no_such_vec_index'").isEmpty,
        "missing vector index must return an empty inventory, not crash")

      // the SAME statements drive the IVF-PQ family (codes layout):
      // family dispatch is resolved from the index, not the grammar
      val vIdxPq = tempDir("adminsql_pqadmit")
      fs2.delete(new org.apache.hadoop.fs.Path(vIdxPq), true)
      graft.operators.Ann.buildIvfPqIndex(
        s2, embAll.filter(col("vec_id") % 2 === 0), vIdxPq, numCells = 16, m = 16, codebookSize = 16)
      val pqadm = s2.sql(s"ADMIT VECTORS 'day1' FROM adminsql_newvecs INTO '$vIdxPq'").head()
      assert(pqadm.getLong(2) == embAll.filter(col("vec_id") % 2 === 1).count())
      assert(new java.io.File(s"$vIdxPq/codes_delta/shard=day1").exists,
        "a PQ index's admission must land under codes_delta")
      val pqinv = s2.sql(s"SHOW VECTOR INDEX FOR '$vIdxPq'").collect()
      assert(pqinv.map(_.getString(1)).toSeq == Seq("__base", "day1") &&
        pqinv.map(_.getLong(2)).sum == embAll.count(), pqinv.mkString(","))
      val pqprom = s2.sql(s"PROMOTE VECTOR INDEX DELTA '$vIdxPq'").head()
      assert(pqprom.getLong(1) == 1L && pqprom.getLong(2) == embAll.count(),
        s"codes delta folded into the codes base: $pqprom")
      // a shard name needing path-escaping round-trips between the
      // admission report and the inventory ('day 2', not 'day%202')
      val esc = s2.sql(s"ADMIT VECTORS 'day 2' FROM adminsql_newvecs INTO '$vIdxPq'").head()
      assert(esc.getString(1) == "day 2" && esc.getLong(2) > 0L)
      assert(s2.sql(s"SHOW VECTOR INDEX FOR '$vIdxPq'").collect()
        .map(_.getString(1)).toSeq == Seq("__base", "day 2"),
        "inventory must report the unescaped shard name")

      // SHOW TEXT INDEX: shard inventory + banding geometry of the
      // cross-corpus dedup index, one row per shard after an admission
      val txtIdx = tempDir("adminsql_txt")
      import s2.implicits._
      val baseDocs = Seq(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank today"))
        .toDF("doc_id", "text")
      val shardDocs = Seq(
        (10L, "a wholly novel document describing columnar shuffle compression tradeoffs"))
        .toDF("doc_id", "text")
      graft.operators.Dedup.buildTextIndex(baseDocs, "doc_id", "text", txtIdx, threshold = 0.5)
      graft.operators.Dedup.admitShard(shardDocs, txtIdx, baseDocs, "doc_id", "text", "day1")
      val idxRows = s2.sql(s"SHOW TEXT INDEX FOR '$txtIdx'").collect()
      assert(idxRows.map(r => (r.getString(1), r.getLong(2))).toSeq == Seq(("__base", 1L), ("day1", 1L)))
      assert(idxRows.forall(r => r.getString(0) == txtIdx && r.getDouble(6) == 0.5))
      assert(idxRows.forall(r => r.getInt(3) == r.getInt(4) * (r.getInt(3) / r.getInt(4))),
        "num_hashes must be an exact band multiple")
      assert(s2.sql("SHOW TEXT INDEX FOR '/tmp/no_such_text_index'").isEmpty,
        "missing index must return an empty inventory, not crash")

      // ADMIT SHARD + COMPACT TEXT INDEX: the admission lifecycle run
      // PURELY through SQL — the reference's statement-driven ops model
      // (every maintenance verb is a statement through QueryEngineRouter)
      Seq(
        (20L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // dup of base 1
        (21L, "unrelated fresh text on watermark semantics for late arriving stream events"))
        .toDF("doc_id", "text").createOrReplaceTempView("adminsql_day2")
      baseDocs.unionByName(shardDocs).createOrReplaceTempView("adminsql_ref")
      val adm = s2.sql(
        s"ADMIT SHARD 'day2' FROM adminsql_day2 INTO '$txtIdx' USING adminsql_ref").head()
      assert(adm.getString(1) == "day2" && adm.getLong(2) == 1L && adm.getLong(3) == 1L,
        s"doc 20 duplicates base doc 1 (rejected), doc 21 is novel (admitted): $adm")
      // explicit ON (id, text) columns parse and admit too
      Seq((30L, "a third wholly distinct note about adaptive query execution plan stages"))
        .toDF("doc_id", "text").createOrReplaceTempView("adminsql_day3")
      val adm3 = s2.sql(s"ADMIT SHARD 'day3' FROM adminsql_day3 INTO '$txtIdx' " +
        "USING adminsql_ref ON (doc_id, text)").head()
      assert(adm3.getLong(2) == 1L && adm3.getLong(3) == 0L)
      val inv2 = s2.sql(s"SHOW TEXT INDEX FOR '$txtIdx'").collect()
      assert(inv2.map(_.getString(1)).sorted.toSeq == Seq("__base", "day1", "day2", "day3"))
      val comp = s2.sql(s"COMPACT TEXT INDEX '$txtIdx'").head()
      assert(comp.getString(0) == txtIdx && comp.getLong(1) == 4L && comp.getLong(2) == 4L,
        s"4 shards folded, 4 signatures survive: $comp")
      val inv3 = s2.sql(s"SHOW TEXT INDEX FOR '$txtIdx'").collect()
      assert(inv3.map(r => (r.getString(1), r.getLong(2))).toSeq == Seq(("__base", 4L)))

      // base+delta lifecycle through SQL alone: ADMIT SHARD ... INTO
      // TABLE ... DELTA, then PROMOTE TEXT INDEX DELTA ... INTO TABLE
      val btbl = "adminsql_xdelta"
      Seq(btbl, s"${btbl}_meta").foreach { t =>
        s2.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"${SparkSpecBase.warehouseDir}/$t"))
      }
      graft.operators.Dedup.buildTextIndexBucketed(baseDocs, "doc_id", "text", btbl, threshold = 0.5)
      val bDelta = tempDir("adminsql_delta")
      shardDocs.createOrReplaceTempView("adminsql_b1") // novel doc 10
      val badm = s2.sql(s"ADMIT SHARD 'b1' FROM adminsql_b1 INTO TABLE $btbl " +
        s"DELTA '$bDelta' USING adminsql_ref").head()
      assert(badm.getString(0) == btbl && badm.getString(2) == "b1" &&
        badm.getLong(3) == 1L && badm.getLong(4) == 0L, s"novel doc admitted to the delta: $badm")
      // a near-dup of the DELTA doc is rejected — the delta is probe-visible
      Seq((60L, "a wholly novel document describing columnar shuffle compression tradeoffs too"))
        .toDF("doc_id", "text").createOrReplaceTempView("adminsql_b2")
      val badm2 = s2.sql(s"ADMIT SHARD 'b2' FROM adminsql_b2 INTO TABLE $btbl " +
        s"DELTA '$bDelta' USING adminsql_ref").head()
      assert(badm2.getLong(3) == 0L && badm2.getLong(4) == 1L,
        s"the delta dup must be rejected before any promotion: $badm2")
      val prom = s2.sql(s"PROMOTE TEXT INDEX DELTA '$bDelta' INTO TABLE $btbl").head()
      assert(prom.getString(0) == btbl && prom.getLong(2) == 2L,
        s"two delta shards promoted: $prom")
      assert(prom.getLong(4) >= 8L, s"rebuilt bucket count recorded: $prom")
      // doc 10's banded rows now live in the bucketed base
      assert(s2.table(btbl).select("id").distinct().as[Long].collect().sorted.toSeq
        == Seq(1L, 10L))

      // UPSERT round-trip: register a log-structured table, put rows,
      // re-put one key with a new value, and read the merged view
      val upBase = tempPath("adminsql_upsert")
      val gt = graft.schema.GTable(
        "metrics_t", timeColumn = "ts",
        dimensions = Seq(graft.schema.GDimension("dim", org.apache.spark.sql.types.StringType)),
        metrics = Seq(graft.schema.GMetric("m", org.apache.spark.sql.types.DoubleType)))
      graft.sql.UpsertTables.register(s2, gt, upBase)
      try {
        val r1 = s2.sql(
          "UPSERT INTO metrics_t (ts, dim, m) VALUES " +
            "(TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0), " +
            "(TIMESTAMP '2024-01-01 00:00:00', 'b', 2.0)").head()
        assert(r1.getLong(1) == 2L && r1.getLong(2) == 0L)
        // re-put key (ts, 'a') with a new metric value -> version 1
        val r2 = s2.sql(
          "UPSERT INTO metrics_t (ts, dim, m) VALUES " +
            "(TIMESTAMP '2024-01-01 00:00:00', 'a', 9.5)").head()
        assert(r2.getLong(2) == 1L)
        // a follow-up query sees latest-version-wins rows
        val seen = s2.sql("SELECT dim, m FROM metrics_t ORDER BY dim")
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        assert(seen == Seq(("a", 9.5), ("b", 2.0)), s"merge-on-read must show the re-put value: $seen")
        // omitted metrics become null, keys are mandatory
        s2.sql("UPSERT INTO metrics_t (ts, dim) VALUES (TIMESTAMP '2024-01-02 00:00:00', 'c')")
        assert(s2.sql("SELECT m FROM metrics_t WHERE dim = 'c'").head().isNullAt(0))
        // the same key twice in ONE statement: last VALUES row wins,
        // deterministically (sequential-put semantics)
        val rd = s2.sql(
          "UPSERT INTO metrics_t (ts, dim, m) VALUES " +
            "(TIMESTAMP '2024-01-03 00:00:00', 'd', 1.0), " +
            "(TIMESTAMP '2024-01-03 00:00:00', 'd', 7.25)").head()
        assert(rd.getLong(1) == 1L, "within-batch duplicate keys must collapse")
        assert(s2.sql("SELECT m FROM metrics_t WHERE dim = 'd'").head().getDouble(0) == 7.25)
        intercept[Exception](
          s2.sql("UPSERT INTO metrics_t (dim, m) VALUES ('x', 1.0)"))
        // identifier case is insensitive like the keywords
        s2.sql("UPSERT INTO metrics_t (TS, DIM, M) VALUES (TIMESTAMP '2024-01-04 00:00:00', 'e', 3.5)")
        assert(s2.sql("SELECT m FROM metrics_t WHERE dim = 'e'").head().getDouble(0) == 3.5)
        // the literal-only contract is ENFORCED: a VALUES tail smuggling
        // a query must be rejected, not silently executed and written
        val inj = intercept[Exception](
          s2.sql("UPSERT INTO metrics_t (ts, dim, m) VALUES " +
            "(TIMESTAMP '2024-01-05 00:00:00', 'z', 0.0) " +
            "UNION ALL SELECT ts, dim, m FROM metrics_t"))
        assert(inj.getMessage.contains("literal tuples"), inj.getMessage)
      } finally graft.sql.UpsertTables.unregister("metrics_t")

      // SET stays Spark-native (the reference's session-parameter surface)
      s2.sql("SET graft.custom.flag=42")
      assert(s2.sql("SET graft.custom.flag").head().getString(1) == "42")

      // everything else still parses as Spark SQL
      assert(s2.sql("SELECT 1 + 1 AS x").head().getInt(0) == 2)

      // ---- DSIR model lifecycle purely through SQL ----
      val model = tempPath("adminsql_dsir")
      s2.createDataFrame(Seq(
        (1L, "alpha beta gamma", "tgt"), (2L, "alpha beta delta", "tgt"),
        (3L, "alpha beta", "pool"), (4L, "omega psi chi", "pool"),
        (5L, "omega psi", "pool")))
        .toDF("doc_id", "text", "src").createOrReplaceTempView("dsir_docs")
      val fit = s2.sql(
        s"FIT DSIR MODEL '$model' FROM dsir_docs TARGET (src = 'tgt') BUCKETS 512").head()
      assert(fit.getString(0) == model && fit.getLong(1) == 512L)
      assert(fit.getLong(2) == 6L, "target tokens") // 3 + 3
      assert(fit.getLong(3) == 7L, "raw tokens") // 2 + 3 + 2
      val mrow = s2.sql(s"SHOW DSIR MODEL '$model'").head()
      assert(mrow.getLong(1) == 512L && mrow.getLong(2) == 6L && mrow.getLong(3) == 7L)
      assert(mrow.getLong(5) >= 1L, "ratio rows")
      val screen = s2.sql(s"SCREEN DSIR '$model' FROM dsir_docs MIN LOGW 0.0").head()
      assert(screen.getLong(1) == 5L, "all rows scored")
      // target-vocab docs (1,2,3) score positive, off-vocab (4,5) negative
      assert(screen.getLong(2) == 3L && screen.getLong(3) == 2L, screen.toString)
      // incremental refresh through SQL: counts grow, generation advances,
      // replaying the same BATCH label is a no-op
      s2.createDataFrame(Seq((6L, "alpha gamma", "pool")))
        .toDF("doc_id", "text", "src").createOrReplaceTempView("dsir_more")
      val upd = s2.sql(
        s"UPDATE DSIR MODEL '$model' FROM dsir_more TARGET (src = 'tgt') BATCH 'day1'").head()
      assert(upd.getLong(1) == 1L && upd.getString(2) == "day1", upd.toString)
      assert(upd.getLong(3) == 6L && upd.getLong(4) == 9L, s"counts grow by the batch: $upd")
      s2.sql(s"UPDATE DSIR MODEL '$model' FROM dsir_more TARGET (src = 'tgt') BATCH 'day1'")
      assert(s2.sql(s"SHOW DSIR MODEL '$model'").head().getLong(6) == 1L,
        "replayed batch label must not advance the generation")
      // a crashed/absent model refuses to serve
      val bad = intercept[Exception](s2.sql(s"SHOW DSIR MODEL '${tempPath("no_such_model")}'").collect())
      assert(bad.getMessage.contains("meta missing"), bad.getMessage)

      // TARGET predicates with NESTED parentheses and a quoted ')' parse
      // (balanced-paren scan, not first-')' regex) — and a malformed
      // tail after TARGET raises a TARGETED graft error, not a
      // confusing delegate-parser one
      val model2 = tempPath("adminsql_dsir2")
      val fit2 = s2.sql(s"FIT DSIR MODEL '$model2' FROM dsir_docs " +
        "TARGET ((src = 'tgt' OR src = ') weird') AND (doc_id < 10)) BUCKETS 512").head()
      assert(fit2.getLong(2) == 6L, s"nested-paren TARGET must select the target docs: $fit2")
      val badTail = intercept[IllegalArgumentException](s2.sql(
        s"FIT DSIR MODEL '$model2' FROM dsir_docs TARGET (src = 'tgt') BUCKETZ 5"))
      assert(badTail.getMessage.contains("expected"), badTail.getMessage)
      val unbalanced = intercept[IllegalArgumentException](s2.sql(
        s"FIT DSIR MODEL '$model2' FROM dsir_docs TARGET (src = 'tgt'"))
      assert(unbalanced.getMessage.contains("unbalanced"), unbalanced.getMessage)

      // ---- user management (reference Statement.scala:40,56-58) ----
      graft.sql.UserRegistry.clear()
      assert(s2.sql("SHOW USERS").collect().isEmpty)
      assert(s2.sql("CREATE USER 'alice' WITH PASSWORD = 's3cret-pw' WITH ROLE = 'ADMIN'")
        .head().getString(0) == "OK")
      s2.sql("CREATE USER 'bob'") // reference default role: DISABLED
      s2.sql("CREATE USER 'carol' WITH ROLE = 'read_only'") // case-normalized
      val users = s2.sql("SHOW USERS").collect().map(r => (r.getString(0), r.getString(1)))
      assert(users.toSeq == Seq(("alice", "ADMIN"), ("bob", "DISABLED"), ("carol", "READ_ONLY")))
      // SHOW USERS never surfaces the hash (name, role only)
      assert(s2.sql("SHOW USERS").schema.fieldNames.toSeq == Seq("name", "role"))
      s2.sql("ALTER USER 'bob' SET ROLE = 'READ_WRITE'")
      s2.sql("ALTER USER 'alice' SET PASSWORD = 'rotated'") // re-hashes; covered in the password spec
      assert(s2.sql("SHOW USERS").collect()
        .find(_.getString(0) == "bob").get.getString(1) == "READ_WRITE")
      s2.sql("DROP USER 'carol'")
      assert(s2.sql("SHOW USERS").count() == 2)
      val dup = intercept[IllegalArgumentException](s2.sql("CREATE USER 'alice'"))
      assert(dup.getMessage.contains("already exists"))
      val gone = intercept[IllegalArgumentException](s2.sql("DROP USER 'carol'"))
      assert(gone.getMessage.contains("User not found"))
      val noSuch = intercept[IllegalArgumentException](s2.sql("ALTER USER 'dave' SET ROLE = 'ADMIN'"))
      assert(noSuch.getMessage.contains("User not found"))
      val badRole = intercept[IllegalArgumentException](s2.sql("CREATE USER 'dave' WITH ROLE = 'WIZARD'"))
      assert(badRole.getMessage.contains("Invalid role name 'WIZARD'"))
      val noSet = intercept[IllegalArgumentException](s2.sql("ALTER USER 'bob'"))
      assert(noSet.getMessage.contains("requires SET"))
      // clause-order freedom (reference SqlParserTest "create user with
      // password and role" / "change password and role at the same
      // time" — both orders), and the reference's no-'=' CREATE form
      s2.sql("CREATE USER 'erin' WITH ROLE 'admin' WITH PASSWORD '12345'")
      assert(s2.sql("SHOW USERS").collect()
        .find(_.getString(0) == "erin").get.getString(1) == "ADMIN")
      s2.sql("ALTER USER 'erin' SET ROLE = 'read_only' SET PASSWORD = 'x'")
      assert(s2.sql("SHOW USERS").collect()
        .find(_.getString(0) == "erin").get.getString(1) == "READ_ONLY")
      // malformed tails raise a TARGETED graft error, not a delegate one
      val badTailUser = intercept[IllegalArgumentException](
        s2.sql("CREATE USER 'frank' WITH PASSWORDS = 'x'"))
      assert(badTailUser.getMessage.contains("malformed clause"), badTailUser.getMessage)
      val wrongKw = intercept[IllegalArgumentException](
        s2.sql("ALTER USER 'erin' WITH ROLE = 'admin'")) // ALTER uses SET, not WITH
      assert(wrongKw.getMessage.contains("malformed clause"), wrongKw.getMessage)
      val dupClause = intercept[IllegalArgumentException](
        s2.sql("ALTER USER 'erin' SET ROLE = 'admin' SET ROLE = 'read_only'"))
      assert(dupClause.getMessage.contains("duplicate SET ROLE"), dupClause.getMessage)
      val badName = intercept[IllegalArgumentException](
        s2.sql("CREATE USER '9lives'"))
      assert(badName.getMessage.contains("invalid username"), badName.getMessage)
      graft.sql.UserRegistry.clear()
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("result-cache statements: SHOW inventories, INVALIDATE reclaims, UPSERT invalidates stale versions") {
    import graft.core.ResultCache
    spark // force base session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val base = tempPath("adminsql_rescache")
      val tbl = s"$base/log"
      val cache = s"$base/cache"
      val gt = graft.schema.GTable(
        "metrics_rc", timeColumn = "ts",
        dimensions = Seq(graft.schema.GDimension("dim", org.apache.spark.sql.types.StringType)),
        metrics = Seq(graft.schema.GMetric("m", org.apache.spark.sql.types.DoubleType)))
      graft.sql.UpsertTables.register(s2, gt, tbl)
      s2.conf.set(graft.sql.GraftSqlParser.ResultCacheDirKey, cache)
      try {
        s2.sql("UPSERT INTO metrics_rc (ts, dim, m) VALUES (TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0)")
        // populate one entry against the current version
        val q = s2.table("metrics_rc").groupBy("dim").agg(sum("m").as("sm"))
        val v1 = ResultCache.dataVersion(s2, tbl)
        ResultCache.through(q, v1, cache).collect()
        assert(s2.sql(s"SHOW RESULT CACHE '$cache'").count() == 1)
        // an UPSERT statement reclaims the now-stale version's entries
        s2.sql("UPSERT INTO metrics_rc (ts, dim, m) VALUES (TIMESTAMP '2024-01-02 00:00:00', 'b', 2.0)")
        assert(s2.sql(s"SHOW RESULT CACHE '$cache'").count() == 0,
          "the upsert statement must invalidate the pre-append version's entries")
        // repopulate at the new version; explicit INVALIDATE drops it
        val q2 = s2.table("metrics_rc").groupBy("dim").agg(sum("m").as("sm"))
        ResultCache.through(q2, ResultCache.dataVersion(s2, tbl), cache).collect()
        assert(s2.sql(s"SHOW RESULT CACHE '$cache'").count() == 1)
        assert(s2.sql(s"INVALIDATE RESULT CACHE '$cache'").head().getString(1) == "OK")
        assert(s2.sql(s"SHOW RESULT CACHE '$cache'").count() == 0)
      } finally s2.conf.unset(graft.sql.GraftSqlParser.ResultCacheDirKey)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("statement authorization: the reference role tables gate writes, users, and admin verbs") {
    spark // force base session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      graft.sql.UserRegistry.clear()
      // bootstrap: an unnamed session is the reference's
      // NonEmptyUserAuthorizer ADMIN — somebody must create user #1
      s2.conf.unset(graft.sql.GraftAuth.UserConfKey)
      s2.sql("CREATE USER 'reader' WITH ROLE = 'READ_ONLY'")
      s2.sql("CREATE USER 'writer' WITH ROLE = 'READ_WRITE'")
      s2.sql("CREATE USER 'root' WITH ROLE = 'ADMIN'")
      s2.sql("CREATE USER 'ghost'") // reference CREATE default: DISABLED

      val upBase = tempPath("adminsql_auth")
      val gt = graft.schema.GTable(
        "metrics_auth", timeColumn = "ts",
        dimensions = Seq(graft.schema.GDimension("dim", org.apache.spark.sql.types.StringType)),
        metrics = Seq(graft.schema.GMetric("m", org.apache.spark.sql.types.DoubleType)))
      graft.sql.UpsertTables.register(s2, gt, upBase)
      def put = "UPSERT INTO metrics_auth (ts, dim, m) VALUES (TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0)"
      def as[T](u: String)(f: => T): T = {
        s2.conf.set(graft.sql.GraftAuth.UserConfKey, u)
        try f finally s2.conf.unset(graft.sql.GraftAuth.UserConfKey)
      }

      // READ_ONLY: UPSERT denied with the reference's exact error shape
      val denied = intercept[SecurityException](as("reader")(s2.sql(put)))
      assert(denied.getMessage == "User reader doesn't have enough permissions")
      // …but metadata + query-metrics READS are permitted
      as("reader")(s2.sql("SHOW VERSION").collect())
      as("reader")(s2.sql("SHOW QUERY METRICS LIMIT 1").collect())
      // the user table is ADMIN-only in the reference (userPermission
      // is empty below ADMIN — even READ_WRITE can't list users)
      intercept[SecurityException](as("reader")(s2.sql("SHOW USERS").collect()))

      // READ_WRITE: table writes allowed; queries-write + users denied
      assert(as("writer")(s2.sql(put).head().getLong(1)) == 1L)
      intercept[SecurityException](as("writer")(s2.sql("DELETE QUERY METRICS").collect()))
      intercept[SecurityException](as("writer")(s2.sql("CREATE USER 'x'")))
      intercept[SecurityException](as("writer")(s2.sql("SHOW USERS").collect()))

      // ADMIN: everything, including the user table and queries writes
      assert(as("root")(s2.sql(put).head().getLong(1)) == 1L)
      as("root")(s2.sql("SHOW USERS").collect())
      as("root")(s2.sql("DELETE QUERY METRICS").collect())

      // DISABLED: nothing — not even metadata reads
      intercept[SecurityException](as("ghost")(s2.sql("SHOW VERSION").collect()))

      // an unknown user is refused outright (DaoAuthorizer shape)
      val bad = intercept[SecurityException](as("nobody")(s2.sql("SHOW VERSION").collect()))
      assert(bad.getMessage == "Invalid user or password")

      // maintenance verbs are table WRITES: READ_ONLY can't promote
      intercept[SecurityException](
        as("reader")(s2.sql(s"PROMOTE VECTOR INDEX DELTA '${tempPath("no_such_index")}'")))
      graft.sql.UserRegistry.clear()
    } finally {
      graft.sql.UserRegistry.clear()
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("per-table grants elevate the role matrix; the user store survives a registry restart") {
    spark // force base session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    val store = tempPath("userstore") + "/users.tsv"
    try {
      graft.sql.UserRegistry.clear()
      s2.conf.set(graft.sql.UserRegistry.StorePathKey, store)
      def as[T](u: String)(f: => T): T = {
        s2.conf.set(graft.sql.GraftAuth.UserConfKey, u)
        try f finally s2.conf.unset(graft.sql.GraftAuth.UserConfKey)
      }
      val base = tempPath("adminsql_grants")
      def gt(name: String) = graft.schema.GTable(
        name, timeColumn = "ts",
        dimensions = Seq(graft.schema.GDimension("dim", org.apache.spark.sql.types.StringType)),
        metrics = Seq(graft.schema.GMetric("m", org.apache.spark.sql.types.DoubleType)))
      graft.sql.UpsertTables.register(s2, gt("metrics_gr1"), s"${base}_1")
      graft.sql.UpsertTables.register(s2, gt("metrics_gr2"), s"${base}_2")
      def put(t: String) =
        s"UPSERT INTO $t (ts, dim, m) VALUES (TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0)"

      s2.sql("CREATE USER 'reader' WITH ROLE = 'READ_ONLY'")
      // role matrix alone: READ_ONLY writes nowhere (reference shape)
      val denied = intercept[SecurityException](as("reader")(s2.sql(put("metrics_gr1"))))
      assert(denied.getMessage == "User reader doesn't have enough permissions")
      // a grant on ONE table elevates exactly that table
      assert(s2.sql("GRANT WRITE ON TABLE metrics_gr1 TO USER 'reader'").head().getString(0) == "OK")
      assert(as("reader")(s2.sql(put("metrics_gr1")).head().getLong(1)) == 1L)
      val still = intercept[SecurityException](as("reader")(s2.sql(put("metrics_gr2"))))
      assert(still.getMessage == "User reader doesn't have enough permissions")
      assert(s2.sql("SHOW GRANTS").collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq ==
        Seq(("reader", "TABLE", "metrics_gr1", "WRITE")))
      // granting is ADMIN-only, like every user mutation
      intercept[SecurityException](
        as("reader")(s2.sql("GRANT WRITE ON TABLE metrics_gr2 TO USER 'reader'")))
      // grants require a registered grantee; revokes require the grant
      val noUser = intercept[IllegalArgumentException](
        s2.sql("GRANT READ ON TABLE metrics_gr1 TO USER 'nobody'"))
      assert(noUser.getMessage.contains("User not found"))
      val noGrant = intercept[IllegalArgumentException](
        s2.sql("REVOKE READ ON TABLE metrics_gr1 FROM USER 'reader'")) // WRITE was granted, not READ
      assert(noGrant.getMessage.contains("Grant not found"))
      // DISABLED is the kill switch: demoting the user closes every
      // door, DORMANT GRANTS INCLUDED — a grant elevates only the
      // enabled reader/writer roles
      s2.sql("ALTER USER 'reader' SET ROLE = 'DISABLED'")
      val killed = intercept[SecurityException](as("reader")(s2.sql(put("metrics_gr1"))))
      assert(killed.getMessage == "User reader doesn't have enough permissions",
        "a grant must not survive a DISABLED demotion")
      s2.sql("ALTER USER 'reader' SET ROLE = 'READ_ONLY'")
      assert(as("reader")(s2.sql(put("metrics_gr1")).head().getLong(1)) == 1L,
        "re-enabling the role restores the (still-stored) grant")

      // RESTART: wipe the in-memory registry — the store file is
      // authoritative, so a fresh session re-reads user, role, and grant
      graft.sql.UserRegistry.clear()
      val s3 = s2.newSession()
      s3.conf.set(graft.sql.UserRegistry.StorePathKey, store)
      s3.conf.set(graft.sql.GraftAuth.UserConfKey, "reader")
      assert(s3.sql(put("metrics_gr1")).head().getLong(1) == 1L,
        "the persisted grant must survive a registry restart")
      val still3 = intercept[SecurityException](s3.sql(put("metrics_gr2")))
      assert(still3.getMessage == "User reader doesn't have enough permissions")
      s3.conf.unset(graft.sql.GraftAuth.UserConfKey)
      assert(s3.sql("SHOW USERS").collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("reader", "READ_ONLY")), "the persisted user must survive a registry restart")

      // subject kinds are EXPLICIT grammar: ON TABLE identifiers are
      // case-insensitive (stored lowercased under kind T), ON PATH
      // strings are exact under kind P — a grant on one path must not
      // cover a different-cased (distinct) directory, and no string-
      // shape heuristic decides which is which
      s3.conf.unset(graft.sql.GraftAuth.UserConfKey)
      s3.sql(s"GRANT WRITE ON PATH '$base/case_path' TO USER 'reader'")
      val gset = graft.sql.UserRegistry.roleAndGrants(s3, "reader").get._2
      assert(gset.contains(("P", s"$base/case_path", "WRITE")),
        s"path subjects store exactly as written: $gset")
      assert(!gset.exists(g => g._1 == "P" && g._2 != s"$base/case_path"),
        "path subjects must not case-fold")
      assert(gset.contains(("T", "metrics_gr1", "WRITE")),
        s"identifier subjects store lowercased under kind T: $gset")
      // kinds are distinct namespaces: the PATH grant cannot be revoked
      // via ON TABLE grammar (even for a same-spelled subject)
      intercept[IllegalArgumentException](
        s3.sql("REVOKE WRITE ON PATH 'metrics_gr1' FROM USER 'reader'"))
      s3.sql(s"REVOKE WRITE ON PATH '$base/case_path' FROM USER 'reader'")
      // TABLE grammar matches case-insensitively end to end
      s3.sql("GRANT WRITE ON TABLE METRICS_GR2 TO USER 'reader'")
      s3.conf.set(graft.sql.GraftAuth.UserConfKey, "reader")
      assert(s3.sql(put("metrics_gr2")).head().getLong(1) == 1L,
        "an upper-cased TABLE grant must cover the lower-cased table")
      s3.conf.unset(graft.sql.GraftAuth.UserConfKey)
      s3.sql("REVOKE WRITE ON TABLE metrics_gr2 FROM USER 'reader'")

      // REVOKE closes the elevation (and persists that too)
      s3.sql("REVOKE WRITE ON TABLE metrics_gr1 FROM USER 'reader'")
      graft.sql.UserRegistry.clear()
      s3.conf.set(graft.sql.GraftAuth.UserConfKey, "reader")
      intercept[SecurityException](s3.sql(put("metrics_gr1")))
      s3.conf.unset(graft.sql.GraftAuth.UserConfKey)
    } finally {
      graft.sql.UserRegistry.clear()
      s2.conf.unset(graft.sql.UserRegistry.StorePathKey)
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("password validation: stored salted hashes gate every bind (DaoAuthorizer semantics)") {
    spark // force base session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    val store = tempPath("pwstore") + "/users.tsv"
    def as[T](u: String, pw: Option[String])(f: => T): T = {
      s2.conf.set(graft.sql.GraftAuth.UserConfKey, u)
      pw.foreach(s2.conf.set(graft.sql.GraftAuth.PasswordConfKey, _))
      try f finally {
        s2.conf.unset(graft.sql.GraftAuth.UserConfKey)
        s2.conf.unset(graft.sql.GraftAuth.PasswordConfKey)
      }
    }
    try {
      graft.sql.UserRegistry.clear()
      s2.conf.set(graft.sql.UserRegistry.StorePathKey, store)
      s2.sql("CREATE USER 'alice' WITH PASSWORD = 's3cret-pw' WITH ROLE = 'READ_ONLY'")
      s2.sql("CREATE USER 'bob' WITH ROLE = 'READ_ONLY'") // reference: hash of ""

      // the right password binds; the wrong one (and none at all, and a
      // DIFFERENT user's right password) is the DaoAuthorizer refusal
      as("alice", Some("s3cret-pw"))(s2.sql("SHOW VERSION").collect())
      val wrong = intercept[SecurityException](
        as("alice", Some("nope"))(s2.sql("SHOW VERSION").collect()))
      assert(wrong.getMessage == "Invalid user or password")
      intercept[SecurityException](as("alice", None)(s2.sql("SHOW VERSION").collect()))
      intercept[SecurityException](
        as("bob", Some("s3cret-pw"))(s2.sql("SHOW VERSION").collect()))

      // a password-less CREATE stores the hash of "" (reference
      // UserManager.createUser password.getOrElse("")): binds with an
      // unset or empty conf and nothing else
      as("bob", None)(s2.sql("SHOW VERSION").collect())
      as("bob", Some(""))(s2.sql("SHOW VERSION").collect())

      // ALTER SET PASSWORD rotates the hash: old stops, new works;
      // ALTER SET ROLE alone must NOT touch the stored hash
      s2.sql("ALTER USER 'alice' SET PASSWORD = 'n3w-pw'")
      intercept[SecurityException](
        as("alice", Some("s3cret-pw"))(s2.sql("SHOW VERSION").collect()))
      as("alice", Some("n3w-pw"))(s2.sql("SHOW VERSION").collect())
      s2.sql("ALTER USER 'alice' SET ROLE = 'READ_WRITE'")
      as("alice", Some("n3w-pw"))(s2.sql("SHOW VERSION").collect())

      // hashes persist: wipe the registry, rebind from the store file
      graft.sql.UserRegistry.clear()
      val s3 = s2.newSession()
      s3.conf.set(graft.sql.UserRegistry.StorePathKey, store)
      s3.conf.set(graft.sql.GraftAuth.UserConfKey, "alice")
      s3.conf.set(graft.sql.GraftAuth.PasswordConfKey, "n3w-pw")
      s3.sql("SHOW VERSION").collect()
      s3.conf.set(graft.sql.GraftAuth.PasswordConfKey, "s3cret-pw")
      val stale = intercept[SecurityException](s3.sql("SHOW VERSION").collect())
      assert(stale.getMessage == "Invalid user or password")
      s3.conf.unset(graft.sql.GraftAuth.UserConfKey)
      s3.conf.unset(graft.sql.GraftAuth.PasswordConfKey)

      // the snapshot never holds a plaintext: the file carries pbkdf2
      // rows, not the secrets
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(store)), java.nio.charset.StandardCharsets.UTF_8)
      assert(txt.contains("pbkdf2$"), s"store must carry salted hashes: $txt")
      assert(!txt.contains("n3w-pw") && !txt.contains("s3cret-pw"),
        "store must never carry a plaintext password")

      // pre-r16 MIGRATION row (no hash column): loads, and binds with
      // ANY password — ALTER SET PASSWORD upgrades it in place. A
      // FRESH path: a hand-written file must not collide with the
      // Hadoop local-FS checksum sidecar of the persisted store.
      graft.sql.UserRegistry.clear()
      val legacyStore = store + ".legacy"
      s2.conf.set(graft.sql.UserRegistry.StorePathKey, legacyStore)
      java.nio.file.Files.write(java.nio.file.Paths.get(legacyStore),
        "U\tlegacy\tREAD_ONLY\nG\tlegacy\tmetrics_old\tWRITE\nG\tlegacy\t/tmp/Old_Path\tWRITE\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      as("legacy", Some("anything"))(s2.sql("SHOW VERSION").collect())
      val lg = graft.sql.UserRegistry.roleAndGrants(s2, "legacy").get._2
      assert(lg == Set(("T", "metrics_old", "WRITE"), ("P", "/tmp/Old_Path", "WRITE")),
        s"legacy grants classify by the one-time load rule: $lg")
      s2.sql("ALTER USER 'legacy' SET PASSWORD = 'pinned'")
      intercept[SecurityException](
        as("legacy", Some("anything"))(s2.sql("SHOW VERSION").collect()))
      as("legacy", Some("pinned"))(s2.sql("SHOW VERSION").collect())
    } finally {
      graft.sql.UserRegistry.clear()
      s2.conf.unset(graft.sql.UserRegistry.StorePathKey)
      s2.conf.unset(graft.sql.GraftAuth.UserConfKey)
      s2.conf.unset(graft.sql.GraftAuth.PasswordConfKey)
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("the TSV snapshot store escapes every field and reads it back") {
    val store = tempPath("tsvstore") + ".tsv"
    val rows = Seq(Seq("U", "a\tb\\c", "READ_ONLY", "pbkdf2$x"), Seq("G2", "n", "P", "/p\nq\r", "READ"),
      Seq("M", "f", "12", "3", "0"))
    graft.core.TsvStore.write(spark, store, rows)
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(store)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(txt == "U\ta\\tb\\\\c\tREAD_ONLY\tpbkdf2$x\nG2\tn\tP\t/p\\nq\\r\tREAD\nM\tf\t12\t3\t0\n")
    assert(graft.core.TsvStore.read(spark, store).map(_.toSeq) == rows)
    assert(graft.core.TsvStore.read(spark, store + ".missing").isEmpty)
  }

  test("query metrics persist: a bound store serves SHOW QUERY METRICS across sessions") {
    spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    val store = tempPath("metricsstore") + "/metrics.tsv"
    try {
      s2.conf.set(graft.core.QueryMetrics.StorePathKey, store)
      graft.core.QueryMetrics.forSession(s2).clear()
      // run a query, wait for the listener, SHOW flushes to the store
      graft.core.QueryMetrics.forSession(s2)
      s2.range(100).agg(sum(col("id"))).collect()
      val deadline = System.currentTimeMillis() + 5000
      while (graft.core.QueryMetrics.forSession(s2).snapshot().isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val shown = s2.sql("SHOW QUERY METRICS LIMIT 100").collect()
      assert(shown.nonEmpty, "the session's records must surface")
      // the flush materialized the snapshot file (the SHOW's own
      // execution re-fires the listener, so session memory is never
      // exactly empty — the store is the source of truth from here)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(store)),
        "a bound-store SHOW must write the snapshot")

      // A NEW session (fresh listener, empty memory) bound to the same
      // store sees the history — the reference TsdbQueryMetricsDao
      // contract: metrics outlive the serving process
      val s3 = s2.newSession()
      s3.conf.set(graft.core.QueryMetrics.StorePathKey, store)
      val replay = s3.sql("SHOW QUERY METRICS LIMIT 100").collect()
      assert(replay.map(_.getString(0)).toSet == shown.map(_.getString(0)).toSet,
        s"persisted metrics must survive a new session: ${replay.toSeq} vs ${shown.toSeq}")
      // filters run against the store too (every SHOW itself records —
      // counts only grow, so assert containment, not equality)
      assert(s3.sql("SHOW QUERY METRICS WHERE STATE = 'FINISHED' LIMIT 100").count() >=
        replay.count(_.getString(3) == "FINISHED"))
      assert(s3.sql("SHOW QUERY METRICS WHERE QUERY_ID = 'no-such-query'").count() == 0)
      // DELETE reclaims from the store: a FRESH session (no pending
      // in-memory records of its own) sees none afterwards
      assert(s3.sql("DELETE QUERY METRICS").head().getLong(0) >= shown.length.toLong)
      val s4 = s2.newSession()
      s4.conf.set(graft.core.QueryMetrics.StorePathKey, store)
      assert(s4.sql("SHOW QUERY METRICS LIMIT 100").collect().isEmpty,
        "a store-bound DELETE must clear what every bound session sees")
    } finally {
      s2.conf.unset(graft.core.QueryMetrics.StorePathKey)
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("registry slots are keyed by store path: a bound session never wipes the in-memory one") {
    spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    val store = tempPath("slotstore") + "/users.tsv"
    try {
      graft.sql.UserRegistry.clear()
      // session A: in-memory (no store conf) creates a user
      s2.sql("CREATE USER 'memuser' WITH ROLE = 'READ_ONLY'")
      // session B: store-bound, creates its own user + syncs repeatedly
      val sb = s2.newSession()
      sb.conf.set(graft.sql.UserRegistry.StorePathKey, store)
      sb.sql("CREATE USER 'storeuser' WITH ROLE = 'READ_WRITE'")
      sb.sql("SHOW USERS").collect() // sync pass on the bound slot
      // the in-memory slot must still hold memuser (r15 bug: the bound
      // session's sync cleared the shared maps and memuser vanished)
      s2.conf.set(graft.sql.GraftAuth.UserConfKey, "memuser")
      s2.sql("SHOW VERSION").collect()
      s2.conf.unset(graft.sql.GraftAuth.UserConfKey)
      assert(s2.sql("SHOW USERS").collect().map(_.getString(0)).toSeq == Seq("memuser"),
        "slots must be independent: the in-memory slot keeps exactly its own users")
      assert(sb.sql("SHOW USERS").collect().map(_.getString(0)).toSeq == Seq("storeuser"),
        "the bound slot keeps exactly the store's users")
    } finally {
      graft.sql.UserRegistry.clear()
      s2.conf.unset(graft.sql.UserRegistry.StorePathKey)
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("VACUUM RESULT CACHE ages entries out; populate enforces the size bound") {
    import graft.core.ResultCache
    spark // force base session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      import s2.implicits._
      val base = tempPath("adminsql_vacuum")
      val tbl = s"$base/src"
      val cache = s"$base/cache"
      Seq((1, "a", 2.0), (2, "b", 3.0)).toDF("id", "dim", "m").write.parquet(tbl)
      val v = ResultCache.dataVersion(s2, tbl)
      def q1 = s2.read.parquet(tbl).groupBy("dim").agg(org.apache.spark.sql.functions.sum("m").as("sm"))
      def q2 = s2.read.parquet(tbl).groupBy("dim").agg(org.apache.spark.sql.functions.max("m").as("mx"))
      ResultCache.through(q1, v, cache).collect()
      ResultCache.through(q2, v, cache).collect()
      assert(s2.sql(s"SHOW RESULT CACHE '$cache'").count() == 2)
      // nothing is old enough yet
      val kept = s2.sql(s"VACUUM RESULT CACHE '$cache' OLDER THAN 1 HOURS").head()
      assert(kept.getLong(1) == 0L && kept.getString(3) == "OK", s"fresh entries must survive: $kept")
      assert(s2.sql(s"SHOW RESULT CACHE '$cache'").count() == 2)
      // age ONE entry (the q1 plan's) two hours back and vacuum again
      val fp1 = ResultCache.fingerprint(q1)
      def ageDir(d: java.io.File, t: Long): Unit = {
        if (d.isDirectory) d.listFiles().foreach(ageDir(_, t))
        d.setLastModified(t); ()
      }
      ageDir(new java.io.File(s"$cache/data=$v/plan=$fp1"),
        System.currentTimeMillis() - 2 * 3600 * 1000L)
      val aged = s2.sql(s"VACUUM RESULT CACHE '$cache' OLDER THAN 1 HOURS").head()
      assert(aged.getLong(1) == 1L && aged.getLong(2) > 0L, s"the aged entry must go: $aged")
      val left = s2.sql(s"SHOW RESULT CACHE '$cache'").collect()
      assert(left.length == 1 && left(0).getString(1) != fp1, "the fresh entry must remain")
      // a hit on the surviving entry still serves
      assert(ResultCache.lookup(q2, v, cache).isDefined)
      // bare VACUUM is grace-floored: a FRESH entry (a concurrent
      // populate's just-published result) survives it...
      assert(s2.sql(s"VACUUM RESULT CACHE '$cache'").head().getLong(1) == 0L)
      assert(s2.sql(s"SHOW RESULT CACHE '$cache'").count() == 1)
      // ...while anything past the grace window is reclaimed
      val fp2 = ResultCache.fingerprint(q2)
      ageDir(new java.io.File(s"$cache/data=$v/plan=$fp2"),
        System.currentTimeMillis() - 2 * 3600 * 1000L)
      assert(s2.sql(s"VACUUM RESULT CACHE '$cache'").head().getLong(1) == 1L)
      assert(s2.sql(s"SHOW RESULT CACHE '$cache'").count() == 0)

      // size bound at populate: 1 byte forces oldest-first eviction, the
      // just-written entry always survives
      s2.conf.set(ResultCache.MaxBytesKey, "1")
      try {
        ResultCache.through(q1, v, cache).collect()
        ageDir(new java.io.File(s"$cache/data=$v/plan=$fp1"),
          System.currentTimeMillis() - 3600 * 1000L)
        val served = ResultCache.through(q2, v, cache).collect()
        assert(served.nonEmpty, "the bounded populate must still serve its own result")
        val inv = s2.sql(s"SHOW RESULT CACHE '$cache'").collect()
        assert(inv.length == 1 && inv(0).getString(1) != fp1,
          s"the oldest entry must be evicted by the byte bound: ${inv.toSeq}")
      } finally s2.conf.unset(ResultCache.MaxBytesKey)

      // TTL (reference CacheDescription expireTimeout): an aged entry
      // MISSES on the read path and through() repopulates OVER it —
      // never serves the stale incumbent via the rename-loser path
      s2.conf.set(ResultCache.TtlMsKey, (3600 * 1000L).toString)
      try {
        ResultCache.through(q1, v, cache).collect()
        assert(ResultCache.lookup(q1, v, cache).isDefined, "fresh entry serves under TTL")
        ageDir(new java.io.File(s"$cache/data=$v/plan=$fp1"),
          System.currentTimeMillis() - 2 * 3600 * 1000L)
        assert(ResultCache.lookup(q1, v, cache).isEmpty, "an expired entry must MISS")
        assert(ResultCache.through(q1, v, cache).collect().nonEmpty,
          "through must repopulate over the expired incumbent")
        assert(ResultCache.lookup(q1, v, cache).isDefined,
          "the repopulated entry is fresh again")
      } finally s2.conf.unset(ResultCache.TtlMsKey)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
