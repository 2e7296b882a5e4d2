package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Wire/storage codecs from the reference's byte-level surface, kept as
  * real tested operators even though Parquet/Tungsten replace them as
  * the storage format:
  *
  *  - 40-bit expiry timestamps (SURVEY F11): the PSDB header packs
  *    epoch seconds into 5 bytes
  *    (`online-feature-store/internal/system/time.go:23-130`,
  *    header layout `perm_storage_datablock_v2.go:12-19`).
  *  - Bool bit-packing (SURVEY F12): 8 bools per byte, LSB first, plus
  *    a valid-count for the last byte
  *    (`serializeBoolV2`, perm_storage_datablock_v2.go:365-392; read
  *    side `deserialized_psdb_v2.go:288-320`).
  *
  * Expiry codecs are plain column expressions (hex/unhex — portable to
  * any engine); bool packing is a codegen'd kernel pair.
  */
object WireCodecs {

  /** Max value storable in 40 bits (epoch seconds ≈ year 36812). */
  final val Max40 = (1L << 40) - 1

  /** Epoch-seconds → 5-byte big-endian binary (the header field). */
  def encodeExpiry40(seconds: Column): Column =
    unhex(lpad(hex(seconds.cast("long").bitwiseAND(lit(Max40))), 10, "0"))

  /** 5-byte binary → epoch seconds. */
  def decodeExpiry40(bin: Column): Column =
    conv(hex(bin), 16, 10).cast("long")

  /** array<boolean> → packed bytes, bit i of byte j = element 8j+i. */
  def packBools(bools: Column): Column =
    ColumnBridge.column(PackBools(ColumnBridge.expression(bools)))

  /** packed bytes + element count → array<boolean>. */
  def unpackBools(bin: Column, n: Column): Column =
    ColumnBridge.column(UnpackBools(
      ColumnBridge.expression(bin), ColumnBridge.expression(n.cast("int"))))

  // ---- kernels ----

  def packKernel(bools: ArrayData): Array[Byte] = {
    val n = bools.numElements()
    val out = new Array[Byte]((n + 7) / 8)
    var i = 0
    while (i < n) {
      if (!bools.isNullAt(i) && bools.getBoolean(i))
        out(i / 8) = (out(i / 8) | (1 << (i % 8))).toByte
      i += 1
    }
    out
  }

  def unpackKernel(bytes: Array[Byte], n: Int): ArrayData = {
    val out = new Array[Boolean](n)
    var i = 0
    while (i < n && i / 8 < bytes.length) {
      out(i) = ((bytes(i / 8) >> (i % 8)) & 1) != 0
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class PackBools(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(BooleanType))
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(v: Any): Any =
    WireCodecs.packKernel(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WireCodecs.packKernel($c)")
  override protected def withNewChildInternal(c: Expression): PackBools =
    copy(child = c)
}

case class UnpackBools(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(BooleanType, containsNull = false)
  override protected def nullSafeEval(bin: Any, n: Any): Any =
    WireCodecs.unpackKernel(bin.asInstanceOf[Array[Byte]], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, n) => s"graft.functions.WireCodecs.unpackKernel($b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): UnpackBools =
    copy(left = l, right = r)
}
