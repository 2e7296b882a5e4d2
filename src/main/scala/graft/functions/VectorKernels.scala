package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Dense row-local vector kernels for codegen'd expressions. */
object VectorKernels {

  /** y = M·x for a row-major d×d matrix (`m.length == d*d`). */
  def matVec(m: Array[Double], d: Int, x: ArrayData): ArrayData = {
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = 0.0
      val base = i * d
      var j = 0
      while (j < d) { acc += m(base + j) * x.getDouble(j); j += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ aᵢ·bᵢ over int8 codes in ascending index order, exact long
    * accumulation (max |dot| ≤ dim·127², no overflow until dim ≈ 5.7e14).
    * The caller guarantees equal lengths and no null element — the
    * [[graft.expr.DotProductInt8]] expression turns either into null. */
  def dotInt8(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += a.getByte(i).toLong * b.getByte(i); i += 1 }
    s
  }
}
