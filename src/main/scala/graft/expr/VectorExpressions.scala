package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.functions.VectorKernels

/** Native codegen'd embedding kernels (SURVEY A6/J6).
  *
  * The HOF form (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) is
  * interpreted per element — lambda variable binding plus boxed
  * arithmetic per product. These expressions emit a tight primitive
  * loop over the two `ArrayData`s inside whole-stage codegen instead
  * (the numerix SIMD kernels' role, `fp32_ops.rs`; Tungsten + JIT
  * autovectorization stands in for explicit SIMD).
  *
  * Accumulation order is the same ascending-index left fold in double
  * as the HOF form and the DuckDB `list_reduce` oracle — bit-exact
  * across all three. Null element or length mismatch → null (the HOF
  * zip_with/aggregate semantics).
  */
abstract class VectorFoldBase extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** java source for one term given element exprs `x` and `y`. */
  protected def termJava(x: String, y: String): String
  protected def term(x: Double, y: Double): Double

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0
    var s = 0.0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += term(a.getDouble(i), b.getDouble(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${termJava(s"$a.getDouble($i)", s"$b.getDouble($i)")};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ. */
case class DotProduct(left: Expression, right: Expression) extends VectorFoldBase {
  override protected def termJava(x: String, y: String): String = s"$x * $y"
  override protected def term(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Σ qaᵢ·qbᵢ over int8 codes — the integer kernel of quantized
  * similarity search ([[graft.functions.Similarity.int8Codes]]): 4×
  * less IO than fp32 embeddings. Interpreted and generated code both
  * accumulate in [[VectorKernels.dotInt8]] (the IVF driver tier's
  * kernel too); a length mismatch or a null element is null here. */
case class DotProductInt8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(org.apache.spark.sql.types.ByteType),
      ArrayType(org.apache.spark.sql.types.ByteType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    VectorKernels.dotInt8(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |final int $n = $a.numElements();
         |${ev.isNull} = $n != $b.numElements();
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  ${ev.isNull} = $a.isNullAt($i) || $b.isNullAt($i);
         |}
         |if (!${ev.isNull}) ${ev.value} = graft.functions.VectorKernels.dotInt8($a, $b);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductInt8 =
    copy(left = l, right = r)
}

/** Σ (aᵢ-bᵢ)². `sqrt` of this is the euclidean distance. */
case class SquaredDistance(left: Expression, right: Expression) extends VectorFoldBase {
  override protected def termJava(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def term(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SquaredDistance =
    copy(left = l, right = r)
}

/** Row-local dense mat-vec against a literal row-major d×d matrix
  * (the broadcast-back step of [[graft.operators.PcaRotate]]). */
case class MatVecLit(child: Expression, mat: Array[Double], d: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.matVec(mat, d, input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rotmat", mat, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.matVec($ref, $d, $c)")
  }
  override protected def withNewChildInternal(c: Expression): MatVecLit =
    copy(child = c)
}
