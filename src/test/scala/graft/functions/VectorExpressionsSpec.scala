package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

/** The native cosine expression must agree with the exact decimal HOF
  * formulation the oracle queries use, in both interpreted and
  * whole-stage-codegen execution; every native function's builder
  * rejects a wrong argument count on both registration routes.
  */
class VectorExpressionsSpec extends SparkSpec {

  private def decimalCosine = expr(
    """aggregate(zip_with(a, b, (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))),
      |          CAST(0 AS DECIMAL(28,12)), (acc, v) -> CAST(acc + v AS DECIMAL(28,12)))""".stripMargin)

  test("vec_cosine matches the decimal HOF path on real embeddings") {
    VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.filter(col("vec_id") === 0).select(col("embedding").as("b")))
    val both = pairs.select(
      expr("vec_cosine(a, b)").as("native"),
      (expr(
        """CAST(aggregate(zip_with(a, b, (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))),
          |     CAST(0 AS DECIMAL(28,12)), (acc, v) -> CAST(acc + v AS DECIMAL(28,12))) AS DOUBLE)""".stripMargin) /
        (sqrt(expr(
          """CAST(aggregate(transform(a, x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))),
            |     CAST(0 AS DECIMAL(28,12)), (acc, v) -> CAST(acc + v AS DECIMAL(28,12))) AS DOUBLE)""".stripMargin)) *
          sqrt(expr(
            """CAST(aggregate(transform(b, x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))),
              |     CAST(0 AS DECIMAL(28,12)), (acc, v) -> CAST(acc + v AS DECIMAL(28,12))) AS DOUBLE)""".stripMargin))))
        .as("exact"))
    val maxDiff = both.agg(max(abs(col("native") - col("exact")))).head().getDouble(0)
    assert(maxDiff < 1e-9, s"native vs decimal cosine diverged by $maxDiff")
  }

  test("vec_cosine null and edge behavior") {
    VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 0.0f)), Some(Array(1.0f, 0.0f))),   // identical → 1
      (Some(Array(1.0f, 0.0f)), Some(Array(0.0f, 1.0f))),   // orthogonal → 0
      (Some(Array(0.0f, 0.0f)), Some(Array(1.0f, 1.0f))),   // zero vec → 0 (guard)
      (None, Some(Array(1.0f, 1.0f)))                        // null → null
    ).toDF("a", "b")
    val out = df.select(expr("vec_cosine(a, b)")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out(0).contains(1.0))
    assert(out(1).contains(0.0))
    assert(out(2).contains(0.0))
    assert(out(3).isEmpty)
  }

  test("codegen and interpreted paths agree") {
    VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq((Array(0.5f, -1.5f, 2.5f), Array(1.0f, 2.0f, -0.5f))).toDF("a", "b")
    val withCg = df.select(expr("vec_cosine(a, b)")).head().getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val noCg = df.select(expr("vec_cosine(a, b)")).head().getDouble(0)
      assert(withCg == noCg)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("every registered builder rejects a wrong argument count by name") {
    // GraftExtensions injects exactly these entries and ensureRegistered
    // registers them, so one check covers both routes. No native
    // function takes 0 or 4 arguments.
    VectorExpressions.ensureRegistered(spark)
    val reg = spark.sessionState.functionRegistry
    val names = VectorExpressions.functions.map(_._1.funcName)
    assert(names.nonEmpty && names.distinct.size == names.size)
    for ((id, _, builder) <- VectorExpressions.functions;
         children <- Seq(Seq.empty, Seq.fill(4)(Literal(1)))) {
      assert(reg.functionExists(id), s"${id.funcName} not registered")
      val e = intercept[IllegalArgumentException](builder(children))
      assert(e.getMessage.contains(s"${id.funcName} expects"), e.getMessage)
    }
  }
}
