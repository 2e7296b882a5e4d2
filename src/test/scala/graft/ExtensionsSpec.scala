package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftInstaller
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Quantize, QuantizeFp16}

/** SQL surface + optimizer rule registration (SURVEY §4 item 3). */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  GraftInstaller.install(spark)

  test("registered SQL functions evaluate the native expressions") {
    assert(spark.sql("SELECT graft_dot(array(1d,2d), array(3d,4d)) AS d")
      .as[Double].head() === 11.0)
    assert(spark.sql("SELECT graft_squared_distance(array(0d,0d), array(3d,4d)) AS d")
      .as[Double].head() === 25.0)
    val viaSql = spark.sql("SELECT graft_quantize_fp16(1.0/3.0) AS q")
      .as[Float].head()
    val viaApi = spark.range(1)
      .select(Quantize.fp16(lit(1.0) / 3.0)).as[Float].head()
    assert(viaSql === viaApi)
    assert(spark.sql(
      "SELECT graft_unpack_bools(graft_pack_bools(array(true,false,true)), 3) AS b")
      .as[Seq[Boolean]].head() === Seq(true, false, true))
    val proto = spark.sql(
      """SELECT m.* FROM (SELECT graft_proto_decode(
        |  graft_proto_encode('u', 'k', 7L, array(CAST(1.5 AS FLOAT)))) AS m)""".stripMargin)
      .as[(String, String, Long, Seq[Float])].head()
    assert(proto === (("u", "k", 7L, Seq(1.5f))))
  }

  test("FoldQuantize collapses idempotent chains, keeps mixed chains") {
    val df = spark.range(10).select($"id".cast("double").as("x"))
    val folded = df.select(Quantize.fp16(Quantize.fp16($"x")).as("q"))
    val nFolded = folded.queryExecution.optimizedPlan.expressions
      .map(_.collect { case q: QuantizeFp16 => q }.size).sum
    assert(nFolded === 1, "fp16(fp16(x)) must fold to one quantize")
    val mixed = df.select(Quantize.fp8e4m3(Quantize.fp16($"x")).as("q"))
    val nMixed = mixed.queryExecution.optimizedPlan.expressions
      .map(_.collect { case e if e.getClass.getSimpleName.startsWith("Quantize") => e }.size).sum
    assert(nMixed === 2, "fp8(fp16(x)) must NOT fold (double rounding)")
    // folding preserves results (idempotence law)
    val a = folded.as[Float].collect()
    val b = df.select(Quantize.fp16($"x")).as[Float].collect()
    assert(a.toSeq === b.toSeq)
  }
}
