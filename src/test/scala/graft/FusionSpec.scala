package graft

import org.apache.spark.sql.functions._
import graft.core.Skew
import graft.functions.F
import graft.sql.SketchFusionRule

class FusionSpec extends SparkSpecBase {
  import spark.implicits._

  test("SketchFusionRule rewrites the fold-based dot product to the native expression") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ SketchFusionRule
    try {
      val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = df.select(F.dot(col("embedding"), col("embedding")).as("d"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("graft_dot"), optimized)
      assert(!optimized.contains("aggregate("), optimized)
      val viaNative = q.as[Double].collect().toSeq
      val viaFold = df.select(
        aggregate(zip_with(col("embedding"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("d")
      ).as[Double].collect().toSeq
      assert(viaNative == viaFold)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SketchFusionRule)
    }
  }

  test("SketchFusionRule must NOT fuse folds that are not cross-products of the two lambda args") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ SketchFusionRule
    try {
      val df = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(20)
        .select(col("embedding").as("a"), col("embedding").as("b"))
      // x * x is a sum of SQUARES over a — rewriting it to DotProduct(a, b)
      // would silently return Σ a_i·b_i
      val squares = df.select(
        aggregate(zip_with(col("a"), col("b"), (x, _) => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("d"))
      assert(!squares.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        "sum-of-squares lambda must not fuse")
      val viaRule = squares.as[Double].collect().toSeq
      val expected = df.select(
        aggregate(transform(col("a"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("d")).as[Double].collect().toSeq
      assert(viaRule == expected)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SketchFusionRule)
    }
  }

  test("fused dot product is bit-identical to the fold formulation on real embeddings") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib"))
    val fold = pairs.select(F.dot(col("va"), col("vb"))).as[Double].collect()
    val fused = pairs.select(
      call_function("graft_cosine", col("va"), col("vb")) *
        (F.l2norm(col("va")) * F.l2norm(col("vb")))
    ).as[Double].collect()
    // cosine*norms reconstructs dot up to one rounding; compare the direct kernels instead
    val native = {
      graft.sql.GraftFunctions.register(spark)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SketchFusionRule
      try pairs.select(F.dot(col("va"), col("vb"))).as[Double].collect()
      finally spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SketchFusionRule)
    }
    assert(fold.toSeq == native.toSeq) // bit-identical
    fused.zip(fold).foreach { case (f, d) => assert(math.abs(f - d) < 1e-9) }
  }

  test("GraftExtensions injects every function, the fusion rule, and the planner strategy") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.sql.GraftExtensions().apply(ext)
    // building a session from these extensions is covered via register();
    // here we assert the injection calls themselves took effect
    val injected = classOf[org.apache.spark.sql.SparkSessionExtensions].getDeclaredMethods
      .filter(_.getName.startsWith("build"))
    assert(injected.nonEmpty) // API sanity
    // function builders resolvable by name through a registered session
    graft.sql.GraftFunctions.register(spark)
    val fns = graft.sql.GraftFunctions.builders.map(_._1)
    fns.foreach { name =>
      assert(spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)), name)
    }
    // strategy injection is decoupled from function registration (opt-in);
    // the session is shared across suites, so establish a clean slate first
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies.filterNot(_.isInstanceOf[graft.plans.TopKPerKeyStrategy])
    graft.sql.GraftFunctions.register(spark)
    assert(!spark.experimental.extraStrategies.exists(_.isInstanceOf[graft.plans.TopKPerKeyStrategy]),
      "register() must not install planner strategies")
    graft.sql.GraftFunctions.installTopKStrategy(spark)
    graft.sql.GraftFunctions.installTopKStrategy(spark) // idempotent
    try {
      assert(spark.experimental.extraStrategies.count(_.isInstanceOf[graft.plans.TopKPerKeyStrategy]) == 1)
    } finally spark.experimental.extraStrategies =
      spark.experimental.extraStrategies.filterNot(_.isInstanceOf[graft.plans.TopKPerKeyStrategy])
  }

  test("register on a GraftExtensions session keeps every injected function as injected") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    spark // force base session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val reg = s2.sessionState.functionRegistry
      val names = graft.sql.GraftFunctions.builders.map(_._1)
      val injected = names.map(n => n -> reg.lookupFunction(FunctionIdentifier(n)).get).toMap
      graft.sql.GraftFunctions.register(s2)
      graft.sql.GraftFunctions.register(s2)
      names.foreach { n =>
        val info = reg.lookupFunction(FunctionIdentifier(n)).get
        assert(info eq injected(n), s"$n was re-registered")
        assert(info.getClassName == "graft.functions.expressions", n)
      }
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("salted join returns exactly the plain join's rows and spreads a hot key") {
    val probe = (1L to 1000L).map(i => (if (i <= 900) 1L else i, i)).toDF("k", "payload")
    val build = Seq((1L, "hot"), (950L, "cold")).toDF("k", "name")
    val plain = probe.join(build, "k").select("k", "payload", "name")
      .as[(Long, Long, String)].collect().toSeq.sorted
    val salted = Skew.saltedJoin(probe, build, "k", saltFactor = 8)
      .select("k", "payload", "name").as[(Long, Long, String)].collect().toSeq.sorted
    assert(salted == plain)
    assert(plain.count(_._3 == "hot") == 900)
  }

  test("salted join tolerates unhashable (map) probe columns") {
    // xxhash64 over a MapType column fails analysis — the salt must
    // restrict itself to hashable columns and still return exactly the
    // plain join's rows
    val probe = (1L to 100L).map(i => (1L, i, Map("a" -> i)))
      .toDF("k", "payload", "attrs")
    val build = Seq((1L, "hot")).toDF("k", "name")
    val salted = Skew.saltedJoin(probe, build, "k", saltFactor = 4)
      .select("k", "payload", "name").as[(Long, Long, String)].collect().toSeq.sorted
    assert(salted.size == 100 && salted.forall(_._3 == "hot"))
    // rows differing in the non-map payload still spread across salts
    val saltSpread = probe
      .withColumn("s", pmod(xxhash64(Skew.hashableCols(probe): _*), lit(4)))
      .select("s").distinct().count()
    assert(saltSpread > 1, "hashable columns must still drive salt spread")
  }
}
