package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType
import graft.functions.{QuantizeFp16, QuantizeFp8E4M3, QuantizeFp8E5M2}

/** Collapse idempotent quantize chains (SURVEY §4 custom-work item 3):
  * `quantize_X(quantize_X(c))` → `quantize_X(c)`, including through the
  * Float→Double widening Cast the column API inserts between stages
  * (exact — re-quantizing an exactly-representable value is identity,
  * a property-tested law in MinifloatProps). Mixed chains
  * (`fp8(fp16(x))`) are NOT folded — double rounding is not equivalent
  * to single rounding.
  */
object FoldQuantize extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case QuantizeFp16(Cast(inner: QuantizeFp16, DoubleType, _, _))       => inner
      case QuantizeFp8E4M3(Cast(inner: QuantizeFp8E4M3, DoubleType, _, _)) => inner
      case QuantizeFp8E5M2(Cast(inner: QuantizeFp8E5M2, DoubleType, _, _)) => inner
      case QuantizeFp16(inner: QuantizeFp16)       => inner
      case QuantizeFp8E4M3(inner: QuantizeFp8E4M3) => inner
      case QuantizeFp8E5M2(inner: QuantizeFp8E5M2) => inner
    }
}

/** SparkSessionExtensions entry point: registers the optimizer rule and
  * the engine's native expressions as SQL functions, so
  * `spark.sql("SELECT graft_dot(a, b) ...")` works next to the Scala
  * API. Activate with
  * `.config("spark.sql.extensions", "graft.expr.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => FoldQuantize)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** (identifier, info, builder) triples for every registrable native
    * expression. Arity is validated here; types by each expression's
    * `ExpectsInputTypes`. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "dot product of two array<double>"),
      { case Seq(a, b) => DotProduct(a, b) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_squared_distance"),
      info("graft_squared_distance", "sum of squared differences"),
      { case Seq(a, b) => SquaredDistance(a, b) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_quantize_fp16"),
      info("graft_quantize_fp16", "round-trip through IEEE fp16"),
      { case Seq(c) => QuantizeFp16(Cast(c, DoubleType)) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_quantize_fp8e4m3"),
      info("graft_quantize_fp8e4m3", "round-trip through fp8 E4M3"),
      { case Seq(c) => QuantizeFp8E4M3(Cast(c, DoubleType)) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_quantize_fp8e5m2"),
      info("graft_quantize_fp8e5m2", "round-trip through fp8 E5M2"),
      { case Seq(c) => QuantizeFp8E5M2(Cast(c, DoubleType)) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_pack_bools"),
      info("graft_pack_bools", "bit-pack array<boolean>, 8 per byte LSB-first"),
      { case Seq(c) => graft.functions.PackBools(c) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_unpack_bools"),
      info("graft_unpack_bools", "unpack bit-packed bools given element count"),
      { case Seq(b, n) => graft.functions.UnpackBools(b, n) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_proto_encode"),
      info("graft_proto_encode", "proto3-encode a persist event (entity, key, version, values)"),
      { case Seq(e, k, v, vs) => graft.functions.EncodePersistProto(e, k, v, vs) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_proto_decode"),
      info("graft_proto_decode", "decode a proto3 persist event to a struct"),
      { case Seq(c) => graft.functions.DecodePersistProto(c) }: Seq[Expression] => Expression),
    (FunctionIdentifier("graft_kmv"),
      info("graft_kmv", "KMV sketch: k smallest distinct values of a long hash column"),
      { case Seq(c, k) =>
        KmvSketch(c, k.eval().asInstanceOf[Number].intValue)
      }: Seq[Expression] => Expression))
}
