package graft

import org.apache.spark.sql.functions._
import graft.core.QueryBuilder
import graft.schema.TestSchema
import graft.sources.{DeclaredLinks, JsonCatalogs}

/**
 * Declarative external links: a JSON config string declares a
 * SQL-sourced dimension catalog and it participates in QueryBuilder
 * enrichment + IN-set pushdown with no Scala written. The JDBC source
 * is a real embedded Derby database (bundled with Spark), so the whole
 * path — config parse → JDBC read → broadcast enrichment → pushdown —
 * runs for real.
 */
class JsonCatalogsSpec extends SparkSpecBase {

  private val dbDir = tempPath("linkdb")
  private val dbUrl = s"jdbc:derby:$dbDir"

  private def withDerby[T](f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(s"$dbUrl;create=true")
    try f(conn) finally conn.close()
  }

  // the session first: building it points Derby's log at the temp root
  private lazy val derbyReady: Unit = {
    val suppliers = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select("s_suppkey").collect().map(_.getLong(0)).sorted
    withDerby { conn =>
      val st = conn.createStatement()
      try st.execute("DROP TABLE supplier_cat") catch { case _: java.sql.SQLException => () }
      st.execute(
        "CREATE TABLE supplier_cat (s_suppkey BIGINT, supplier_name VARCHAR(64), tier VARCHAR(8))")
      val ins = conn.prepareStatement("INSERT INTO supplier_cat VALUES (?, ?, ?)")
      suppliers.foreach { k =>
        ins.setLong(1, k)
        ins.setString(2, s"declared-supplier-$k")
        ins.setString(3, if (k % 3 == 0) "gold" else "std")
        ins.addBatch()
      }
      ins.executeBatch()
      st.close(); ins.close()
    }
  }

  private val configJson =
    s"""{
       |  "externalLinks": [{
       |    "description": {
       |      "linkName": "supplierCat",
       |      "dimensionName": "l_suppkey",
       |      "fieldsNames": ["supplierName", "tier"],
       |      "tables": ["lineitem"],
       |      "fieldsMapping": {"l_suppkey": "supplier_cat.s_suppkey"},
       |      "relation": "supplier_cat"
       |    },
       |    "connection": {
       |      "url": "$dbUrl",
       |      "driver": "org.apache.derby.jdbc.EmbeddedDriver"
       |    }
       |  }]
       |}""".stripMargin

  test("parse: reference shape, defaulting rules, and named-field errors") {
    val cfgs = JsonCatalogs.parse(configJson)
    assert(cfgs.length == 1)
    val cfg = cfgs.head
    assert(cfg.description.linkName == "supplierCat")
    assert(cfg.relation == "supplier_cat")
    // mapped name (table qualifier dropped) and camelToSnake default
    assert(cfg.sqlField("l_suppkey") == "s_suppkey")
    assert(cfg.sqlField("supplierName") == "supplier_name")
    // relation default = camelToSnake(linkName)
    val noRel = JsonCatalogs.parse(configJson.replace("""      "relation": "supplier_cat"""", """      "relation": null"""))
    assert(noRel.head.relation == "supplier_cat")
    val e = intercept[IllegalArgumentException] {
      JsonCatalogs.parse("""{"externalLinks":[{"description":{"linkName":"x"},"connection":{"url":"u"}}]}""")
    }
    assert(e.getMessage.contains("dimensionName"))
    // an object where the array belongs must be an error, not zero links
    val eObj = intercept[IllegalArgumentException] {
      JsonCatalogs.parse("""{"externalLinks":{"description":{}}}""")
    }
    assert(eObj.getMessage.contains("must be an array"))
    val eFields = intercept[IllegalArgumentException] {
      JsonCatalogs.parse(configJson.replace("""["supplierName", "tier"]""", """"supplierName""""))
    }
    assert(eFields.getMessage.contains("fieldsNames"))
  }

  test("attachLinksToSchema validates the dimension against the declared tables") {
    val cfgs = JsonCatalogs.parse(configJson)
    val attached = JsonCatalogs.attachLinksToSchema(TestSchema.schema, cfgs)
    val link = attached.links.find(_.linkName == "supplierCat").get
    assert(link.dimensionName == "l_suppkey" && link.catalogTable == "supplierCat")
    assert(attached.linksOf(attached.table("lineitem")).exists(_.linkName == "supplierCat"))
    val bad = configJson.replace("l_suppkey", "no_such_dim")
    val e = intercept[IllegalArgumentException] {
      JsonCatalogs.attachLinksToSchema(TestSchema.schema, JsonCatalogs.parse(bad))
    }
    assert(e.getMessage.contains("no_such_dim"))
    // a colliding link name must be an error, not first-match-wins
    val eDup = intercept[IllegalArgumentException] {
      JsonCatalogs.attachLinksToSchema(TestSchema.schema, cfgs ++ cfgs)
    }
    assert(eDup.getMessage.contains("supplierCat"))
  }

  test("enrichment keeps the fact's dimension column when the catalog key shares its name") {
    derbyReady
    val cfgs = JsonCatalogs.parse(configJson)
    val schema = JsonCatalogs.attachLinksToSchema(TestSchema.schema, cfgs)
    val link = schema.links.find(_.linkName == "supplierCat").get
    val load = JsonCatalogs.loader(spark, cfgs,
      n => spark.read.parquet(s"$sfDir/$n.parquet"))
    // a declared link's catalogKey is NAMED like the dimension — the
    // post-join drop must remove only the catalog's copy, so grouping
    // by the dimension itself still resolves (regression: drop-by-name
    // removed both and this query failed analysis)
    val df = QueryBuilder(spark, schema, load, "lineitem")
      .withLink(link)
      .groupBy(col("l_suppkey"))
      .select(count(lit(1)).as("cnt"), first(col("supplierName")).as("supplierName"))
      .build()
    val got = df.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got.nonEmpty)
    assert(got.forall { case (k, name) => name == s"declared-supplier-$k" })
  }

  test("declared catalog loads over JDBC with link-level column names") {
    derbyReady
    val cfg = JsonCatalogs.parse(configJson).head
    val cat = JsonCatalogs.load(spark, cfg)
    assert(cat.columns.toSeq == Seq("l_suppkey", "supplierName", "tier"))
    val n = spark.read.parquet(s"$sfDir/supplier.parquet").count()
    assert(cat.count() == n)
  }

  test("routed query: enrichment joins the declared catalog, link predicate pushes an IN-set into the fact scan") {
    derbyReady
    DeclaredLinks.clear()
    val cfgs = JsonCatalogs.parse(configJson)
    val schema = JsonCatalogs.attachLinksToSchema(TestSchema.schema, cfgs)
    val link = schema.links.find(_.linkName == "supplierCat").get
    val load = JsonCatalogs.loader(spark, cfgs,
      n => spark.read.parquet(s"$sfDir/$n.parquet"))

    val df = QueryBuilder(spark, schema, load, "lineitem")
      .whereLink(link, col("tier") === "gold")
      .withLink(link)
      .groupBy(col("supplierName"))
      .select(count(lit(1)).as("cnt"))
      .build()
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap

    // oracle: plain DataFrame join against the parquet supplier table
    val expected = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_suppkey") % 3 === 0)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (s"declared-supplier-${r.getLong(0)}", r.getLong(1))).toMap
    assert(got == expected)
    assert(got.nonEmpty)

    // scale contract: the link predicate reached the fact scan as an
    // IN-set on the dimension (no fact shuffle, scan-level pruning)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("In(l_suppkey"),
      s"declared-link condition must reach the scan as In(l_suppkey,...):\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), "catalog enrichment must broadcast")
    assert(!p.contains("SortMergeJoin"), "the fact side must not shuffle for enrichment")

    // admin visibility (the SQL-statement form runs in AdminSqlSpec,
    // whose session carries the injected parser)
    val rows = graft.sql.ShowExternalLinksCommand().run(spark)
    assert(rows.exists(r => r.getString(0) == "supplierCat" && r.getString(2) == "supplier_cat"))
  }
}
