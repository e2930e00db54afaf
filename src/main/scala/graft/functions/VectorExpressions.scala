package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
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
  val cdcChunksFnName = "cdc_chunks"

  /** Every graft native function as (identifier, info, builder) — the
    * one table both registration routes read. Each builder checks its
    * argument count first, so a wrong call fails at analysis with
    * "<name> expects <n> argument(s)" on either route.
    */
  private[functions] val functions: Seq[SparkSessionExtensions#FunctionDescription] = {
    def fn(name: String, cls: String, arity: Int)(
        build: Seq[Expression] => Expression): SparkSessionExtensions#FunctionDescription =
      (FunctionIdentifier(name), new ExpressionInfo(cls, name), { children =>
        require(children.length == arity,
          s"$name expects $arity argument${if (arity == 1) "" else "s"}")
        build(children)
      })
    Seq(
      fn(fnName, classOf[FloatVecCosine].getName, 2)(c => FloatVecCosine(c(0), c(1))),
      fn(shinglesFnName, classOf[TextShingles].getName, 1)(c => TextShingles(c(0))),
      fn(pairsFnName, classOf[ArrayPairs].getName, 1)(c => ArrayPairs(c(0))),
      fn(simhashFnName, classOf[SimHashAgg].getName, 1)(c =>
        SimHashAgg(c(0)).toAggregateExpression()),
      fn(ngramsFnName, classOf[CharNGrams].getName, 2)(c => CharNGrams(c(0), c(1))),
      fn(winnowFnName, classOf[WinnowFps].getName, 3)(c => WinnowFps(c(0), c(1), c(2))),
      fn(cdcChunksFnName, classOf[CdcChunks].getName, 2)(c => CdcChunks(c(0), c(1))),
      fn(minhashFnName, classOf[MinHashAgg].getName, 1)(c =>
        MinHashAgg(c(0)).toAggregateExpression()),
      fn(hammingPairsFnName, classOf[HammingPairs].getName, 2)(c => HammingPairs(c(0), c(1))),
      fn(minhashPairsFnName, classOf[MinHashAgreePairs].getName, 1)(c =>
        MinHashAgreePairs(c(0))),
      fn(topkMinFnName, classOf[TopKMinAgg].getName, 3)(c =>
        TopKMinAgg(c(0), c(1), c(2)).toAggregateExpression()),
      fn(earliestKFnName, classOf[EarliestKAgg].getName, 3)(c =>
        EarliestKAgg(c(0), c(1), c(2)).toAggregateExpression()),
      fn(bloomAggFnName, classOf[BloomFilterAggregate].getName, 3)(c =>
        new BloomFilterAggregate(new XxHash64(Seq(c(0))), c(1), c(2))
          .toAggregateExpression()),
      fn(bloomContainsFnName, classOf[BloomFilterMightContain].getName, 2)(c =>
        BloomFilterMightContain(c(0), new XxHash64(Seq(c(1))))))
  }

  /** Idempotent runtime registration of ALL graft native expressions
    * (for sessions not built with
    * `spark.sql.extensions=graft.functions.GraftExtensions`).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((id, info, builder) <- functions if !reg.functionExists(id))
      reg.registerFunction(id, info, builder)
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` injects
  * the graft native expressions at session build (the
  * SparkSessionExtensions route of SURVEY.md §2.3/§4.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    VectorExpressions.functions.foreach(ext.injectFunction)
}
