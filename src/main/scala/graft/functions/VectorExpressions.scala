package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding vectors.
  *
  * The declared similarity queries (q82/q91) use higher-order functions
  * with DECIMAL accumulation — exact, order-independent, oracle-matchable
  * (SURVEY.md §7.5.2), but interpreted per element. For the production hot
  * path (millions of vectors × many probes) this codegen'd expression runs
  * the 64-float dot/norm loop inside whole-stage codegen: one fused pass,
  * no per-element boxing, no decimal arithmetic.
  *
  * This is the (b)-tier extension point of SURVEY.md §2.3: a custom
  * `Expression` with `doGenCode`, registered through
  * [[GraftExtensions]] (`SparkSessionExtensions.injectFunction`) or
  * [[VectorExpressions.ensureRegistered]] at runtime.
  */
case class FloatVecCosine(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val den = ctx.freshName("den")
      s"""
         |final int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = (double) $a.getFloat($i);
         |  final double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |final double $den = Math.sqrt($na) * Math.sqrt($nb);
         |${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecCosine =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  val fnName = "vec_cosine"
  val shinglesFnName = "text_shingles"
  val pairsFnName = "array_pairs"
  val simhashFnName = "simhash_agg"
  val ngramsFnName = "char_ngrams"
  val winnowFnName = "winnow_fps"
  val minhashFnName = "minhash_agg"
  // Spark's runtime-filter bloom expressions surfaced as callable
  // functions (they are not in the public FunctionRegistry):
  // bloom_agg64(v, estItems, numBits) → binary sketch over xxhash64(v);
  // bloom_contains64(sketch, v) → might-contain predicate. The sketch
  // argument must be a constant (Literal/foldable) — Spark enforces this,
  // matching the broadcast-bloom pattern: build once, prune map-side.
  val bloomAggFnName = "bloom_agg64"
  val bloomContainsFnName = "bloom_contains64"
  val hammingPairsFnName = "hamming_pairs"
  val minhashPairsFnName = "minhash_pairs"
  val topkMinFnName = "topk_min_agg"
  val earliestKFnName = "earliest_k_agg"
  val cmsEstimateFnName = "cms_estimate"
  val cdcChunksFnName = "cdc_chunks"

  private[functions] def bloomAggBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 3, s"$bloomAggFnName expects 3 arguments")
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      new XxHash64(Seq(children.head)), children(1), children(2))
      .toAggregateExpression()
  }
  private[functions] def bloomContainsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$bloomContainsFnName expects 2 arguments")
    BloomFilterMightContain(children.head, new XxHash64(Seq(children(1))))
  }
  private[functions] def hammingPairsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$hammingPairsFnName expects 2 arguments")
    HammingPairs(children.head, children(1))
  }
  private[functions] def minhashPairsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 1, s"$minhashPairsFnName expects 1 argument")
    MinHashAgreePairs(children.head)
  }
  private[functions] def topkMinBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 3, s"$topkMinFnName expects 3 arguments")
    TopKMinAgg(children.head, children(1), children(2)).toAggregateExpression()
  }
  private[functions] def earliestKBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 3, s"$earliestKFnName expects 3 arguments")
    EarliestKAgg(children.head, children(1), children(2)).toAggregateExpression()
  }
  private[functions] def cmsEstimateBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$cmsEstimateFnName expects 2 arguments")
    CmsEstimate(children.head, children(1))
  }

  /** Idempotent runtime registration of ALL graft native expressions
    * (for sessions not built with
    * `spark.sql.extensions=graft.functions.GraftExtensions`).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(fnName)))
      reg.registerFunction(FunctionIdentifier(fnName),
        new ExpressionInfo(classOf[FloatVecCosine].getName, fnName),
        { children =>
          require(children.length == 2, s"$fnName expects 2 arguments")
          FloatVecCosine(children.head, children(1))
        })
    if (!reg.functionExists(FunctionIdentifier(shinglesFnName)))
      reg.registerFunction(FunctionIdentifier(shinglesFnName),
        new ExpressionInfo(classOf[TextShingles].getName, shinglesFnName),
        { children =>
          require(children.length == 1, s"$shinglesFnName expects 1 argument")
          TextShingles(children.head)
        })
    if (!reg.functionExists(FunctionIdentifier(pairsFnName)))
      reg.registerFunction(FunctionIdentifier(pairsFnName),
        new ExpressionInfo(classOf[ArrayPairs].getName, pairsFnName),
        { children =>
          require(children.length == 1, s"$pairsFnName expects 1 argument")
          ArrayPairs(children.head)
        })
    if (!reg.functionExists(FunctionIdentifier(simhashFnName)))
      reg.registerFunction(FunctionIdentifier(simhashFnName),
        new ExpressionInfo(classOf[SimHashAgg].getName, simhashFnName),
        { children =>
          require(children.length == 1, s"$simhashFnName expects 1 argument")
          SimHashAgg(children.head).toAggregateExpression()
        })
    if (!reg.functionExists(FunctionIdentifier(ngramsFnName)))
      reg.registerFunction(FunctionIdentifier(ngramsFnName),
        new ExpressionInfo(classOf[CharNGrams].getName, ngramsFnName),
        { children =>
          require(children.length == 2, s"$ngramsFnName expects 2 arguments")
          CharNGrams(children.head, children(1))
        })
    if (!reg.functionExists(FunctionIdentifier(winnowFnName)))
      reg.registerFunction(FunctionIdentifier(winnowFnName),
        new ExpressionInfo(classOf[WinnowFps].getName, winnowFnName),
        { children =>
          require(children.length == 3, s"$winnowFnName expects 3 arguments")
          WinnowFps(children.head, children(1), children(2))
        })
    if (!reg.functionExists(FunctionIdentifier(cdcChunksFnName)))
      reg.registerFunction(FunctionIdentifier(cdcChunksFnName),
        new ExpressionInfo(classOf[CdcChunks].getName, cdcChunksFnName),
        { children =>
          require(children.length == 2, s"$cdcChunksFnName expects 2 arguments")
          CdcChunks(children.head, children(1))
        })
    if (!reg.functionExists(FunctionIdentifier(minhashFnName)))
      reg.registerFunction(FunctionIdentifier(minhashFnName),
        new ExpressionInfo(classOf[MinHashAgg].getName, minhashFnName),
        { children =>
          require(children.length == 1, s"$minhashFnName expects 1 argument")
          MinHashAgg(children.head).toAggregateExpression()
        })
    if (!reg.functionExists(FunctionIdentifier(hammingPairsFnName)))
      reg.registerFunction(FunctionIdentifier(hammingPairsFnName),
        new ExpressionInfo(classOf[HammingPairs].getName, hammingPairsFnName),
        hammingPairsBuilder _)
    if (!reg.functionExists(FunctionIdentifier(minhashPairsFnName)))
      reg.registerFunction(FunctionIdentifier(minhashPairsFnName),
        new ExpressionInfo(classOf[MinHashAgreePairs].getName, minhashPairsFnName),
        minhashPairsBuilder _)
    if (!reg.functionExists(FunctionIdentifier(topkMinFnName)))
      reg.registerFunction(FunctionIdentifier(topkMinFnName),
        new ExpressionInfo(classOf[TopKMinAgg].getName, topkMinFnName),
        topkMinBuilder _)
    if (!reg.functionExists(FunctionIdentifier(earliestKFnName)))
      reg.registerFunction(FunctionIdentifier(earliestKFnName),
        new ExpressionInfo(classOf[EarliestKAgg].getName, earliestKFnName),
        earliestKBuilder _)
    if (!reg.functionExists(FunctionIdentifier(cmsEstimateFnName)))
      reg.registerFunction(FunctionIdentifier(cmsEstimateFnName),
        new ExpressionInfo(classOf[CmsEstimate].getName, cmsEstimateFnName),
        cmsEstimateBuilder _)
    if (!reg.functionExists(FunctionIdentifier(bloomAggFnName)))
      reg.registerFunction(FunctionIdentifier(bloomAggFnName),
        new ExpressionInfo(
          "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
          bloomAggFnName),
        bloomAggBuilder _)
    if (!reg.functionExists(FunctionIdentifier(bloomContainsFnName)))
      reg.registerFunction(FunctionIdentifier(bloomContainsFnName),
        new ExpressionInfo(classOf[BloomFilterMightContain].getName,
          bloomContainsFnName),
        bloomContainsBuilder _)
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` injects
  * the graft native expressions at session build (the
  * SparkSessionExtensions route of SURVEY.md §2.3/§4.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(VectorExpressions.fnName),
      new ExpressionInfo(classOf[FloatVecCosine].getName,
        VectorExpressions.fnName),
      exprs => FloatVecCosine(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.shinglesFnName),
      new ExpressionInfo(classOf[TextShingles].getName,
        VectorExpressions.shinglesFnName),
      exprs => TextShingles(exprs.head)))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.pairsFnName),
      new ExpressionInfo(classOf[ArrayPairs].getName,
        VectorExpressions.pairsFnName),
      exprs => ArrayPairs(exprs.head)))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.simhashFnName),
      new ExpressionInfo(classOf[SimHashAgg].getName,
        VectorExpressions.simhashFnName),
      exprs => SimHashAgg(exprs.head).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.ngramsFnName),
      new ExpressionInfo(classOf[CharNGrams].getName,
        VectorExpressions.ngramsFnName),
      exprs => CharNGrams(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.winnowFnName),
      new ExpressionInfo(classOf[WinnowFps].getName,
        VectorExpressions.winnowFnName),
      exprs => WinnowFps(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.cdcChunksFnName),
      new ExpressionInfo(classOf[CdcChunks].getName,
        VectorExpressions.cdcChunksFnName),
      exprs => CdcChunks(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.minhashFnName),
      new ExpressionInfo(classOf[MinHashAgg].getName,
        VectorExpressions.minhashFnName),
      exprs => MinHashAgg(exprs.head).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.hammingPairsFnName),
      new ExpressionInfo(classOf[HammingPairs].getName,
        VectorExpressions.hammingPairsFnName),
      exprs => VectorExpressions.hammingPairsBuilder(exprs)))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.minhashPairsFnName),
      new ExpressionInfo(classOf[MinHashAgreePairs].getName,
        VectorExpressions.minhashPairsFnName),
      exprs => VectorExpressions.minhashPairsBuilder(exprs)))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.topkMinFnName),
      new ExpressionInfo(classOf[TopKMinAgg].getName,
        VectorExpressions.topkMinFnName),
      exprs => VectorExpressions.topkMinBuilder(exprs)))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.cmsEstimateFnName),
      new ExpressionInfo(classOf[CmsEstimate].getName,
        VectorExpressions.cmsEstimateFnName),
      exprs => VectorExpressions.cmsEstimateBuilder(exprs)))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.bloomAggFnName),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
        VectorExpressions.bloomAggFnName),
      exprs => VectorExpressions.bloomAggBuilder(exprs)))
    ext.injectFunction((FunctionIdentifier(VectorExpressions.bloomContainsFnName),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        VectorExpressions.bloomContainsFnName),
      exprs => VectorExpressions.bloomContainsBuilder(exprs)))
  }
}
