package graft

import org.apache.spark.sql.{GraftExtensionsProbe, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.NativeFunctions

class GraftExtensionsSpec extends SparkSpec {

  /** Every SQL name graft exposes; a pure-SQL session must see all of them. */
  private val graftNames = Set(
    "dot_product", "hyperplane_signatures", "nearest_centroid_cos",
    "nearest_centroid_dot", "word_shingles", "char_qgrams", "log_lin_code",
    "pq_codes", "gear_chunk_ends", "hilbert_key", "graft_bloom_agg",
    "graft_might_contain")

  test("GraftExtensions injects dot_product at session-extension time") {
    // an empty registry that counts writes: after the injections it holds
    // exactly the extension's names
    var writes = 0
    val registry = new SimpleFunctionRegistry {
      override def registerFunction(name: FunctionIdentifier, info: ExpressionInfo,
                                    builder: Seq[Expression] => Expression): Unit = {
        writes += 1
        super.registerFunction(name, info, builder)
      }
    }
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsProbe.applyInjections(ext, registry)
    assert(registry.functionExists(FunctionIdentifier("dot_product")))
    val expr = registry.lookupFunction(FunctionIdentifier("dot_product"),
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0, 2.0)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(Array(3.0, 4.0))))
    assert(expr.eval(null) === 11.0)
    // a pure-SQL session sees every graft name, and the table holds no other
    assert(registry.listFunction().map(_.funcName).toSet === graftNames)
    assert(NativeFunctions.table.map(_._1.funcName).toSet === graftNames)
    // the lazy path finds the extension's builders and rewrites nothing
    assert(writes === graftNames.size)
    NativeFunctions.register(registry)
    assert(writes === graftNames.size, "register must not rewrite the extension's entries")
    NativeFunctions.table.foreach { case (id, _, builder) =>
      assert(registry.lookupFunctionBuilder(id).exists(_ eq builder), id.funcName)
    }
  }

  test("dot_product rejects wrong arity with an analysis error, not an index crash") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = GraftExtensionsProbe.applyInjections(ext)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      registry.lookupFunction(FunctionIdentifier("dot_product"),
        Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0))))
    }
    assert(e.getMessage.contains("dot_product"))
    // every name, on both paths: the extension-built registry and a fresh
    // session registered lazily. Too many args must not be silently
    // dropped; too few must not crash with IndexOutOfBoundsException.
    val lazySession = spark.newSession()
    NativeFunctions.register(lazySession)
    for {
      (path, reg) <- Seq("extension" -> registry,
        "lazy" -> lazySession.sessionState.functionRegistry)
      name <- graftNames.toSeq.sorted
      n <- Seq(0, 5)
    } {
      val wrong = intercept[org.apache.spark.sql.AnalysisException] {
        reg.lookupFunction(FunctionIdentifier(name), Seq.fill(n)(Literal(1)))
      }
      assert(wrong.getCondition.startsWith("WRONG_NUM_ARGS") &&
        wrong.getMessage.contains(s"`$name`"), s"$path $name/$n: ${wrong.getMessage}")
    }
  }

  test("hyperplane_signatures knobs reject non-constant / non-INT args readably") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = GraftExtensionsProbe.applyInjections(ext)
    val vec = org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0, 2.0))
    def build(knob: org.apache.spark.sql.catalyst.expressions.Expression) =
      registry.lookupFunction(FunctionIdentifier("hyperplane_signatures"),
        Seq(vec, vec, knob, org.apache.spark.sql.catalyst.expressions.Literal(1)))
    // a column reference used to surface as an unbound-attribute
    // UnsupportedOperationException; a LONG literal as a ClassCastException
    // (ADVICE r9) — both must now be AnalysisExceptions naming the knob
    val nonConst = intercept[org.apache.spark.sql.AnalysisException] {
      build(org.apache.spark.sql.catalyst.analysis
        .UnresolvedAttribute("some_col"))
    }
    assert(nonConst.getMessage.contains("planesPerTable"))
    val longTyped = intercept[org.apache.spark.sql.AnalysisException] {
      build(org.apache.spark.sql.catalyst.expressions.Literal(2L))
    }
    assert(longTyped.getMessage.contains("planesPerTable"))
    // foldable non-literal INT arithmetic still resolves (1+1 planes)
    val folded = build(org.apache.spark.sql.catalyst.expressions.Literal(2))
    assert(folded.isInstanceOf[graft.functions.HyperplaneSignatures])
    // and the lazy-registration path shares the same guard
    graft.functions.NativeFunctions.hyperplaneSignatures(
      spark, org.apache.spark.sql.functions.col("v"), Array(1.0, 2.0), 1, 1)
    val lazyGuard = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT hyperplane_signatures(array(1.0d), array(1.0d), 2L, 1)")
        .head()
    }
    assert(lazyGuard.getMessage.contains("planesPerTable"))
  }

  test("GraftExtensions injects the bloom runtime-filter pair") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = GraftExtensionsProbe.applyInjections(ext)
    assert(registry.functionExists(FunctionIdentifier("graft_bloom_agg")))
    assert(registry.functionExists(FunctionIdentifier("graft_might_contain")))
  }

  test("bloom sketch round-trips through SQL build + probe") {
    import spark.implicits._
    Seq("a", "b", "c", "d").toDF("s").createOrReplaceTempView("bloom_build")
    val bloom = NativeFunctions.bloomAggBytes(
      spark.table("bloom_build"),
      org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("s")),
      expectedItems = 100L, numBits = 1024L)
    assert(bloom != null)
    val hits = Seq("a", "zz", "b").toDF("s")
      .filter(NativeFunctions.mightContain(spark, bloom,
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("s"))))
      .as[String].collect().sorted
    // "a" and "b" MUST hit (no false negatives); "zz" may only slip in as
    // a false positive, impossible here at 1024 bits over 4 items
    assert(hits.toSeq === Seq("a", "b"))
  }

  test("lazy registration is idempotent and SQL-visible") {
    NativeFunctions.register(spark)
    NativeFunctions.register(spark) // second call must be a silent no-op
    val row = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(row.getDouble(0) === 11.0)
  }

  test("registration replaces a same-named foreign function (never computes through it)") {
    spark.udf.register("dot_product",
      (a: Seq[Double], b: Seq[Double]) => -1.0) // an impostor
    try {
      NativeFunctions.register(spark)
      val row = spark.sql(
        "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
      assert(row.getDouble(0) === 11.0, "graft's implementation must win")
    } finally NativeFunctions.register(spark) // leave ours installed
    // an impostor under each name in turn, next to graft's own entries
    val registry = spark.sessionState.functionRegistry
    NativeFunctions.table.foreach { case (id, _, builder) =>
      try {
        registry.createOrReplaceTempFunction(id.funcName,
          (_: Seq[Expression]) => Literal(-1), "scala_udf")
        NativeFunctions.register(spark)
        assert(registry.lookupFunctionBuilder(id).exists(_ eq builder),
          s"graft's ${id.funcName} must win")
      } finally NativeFunctions.register(spark)
    }
  }
}
