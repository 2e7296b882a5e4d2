package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.SkewIdentity

/** The skew identity gate's machinery as unit facts. The in-memory Zipf
  * fixture mirrors the generated skew data's shape: one celebrity key
  * carrying ~threefold the tail's mass per salt bucket. */
class SkewIdentitySpec extends AnyFunSuite with SparkSuite {

  test("msetSig is order-insensitive and value-sensitive") {
    import spark.implicits._
    val a = Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", 3.5))
      .toDF("k", "s", "v")
    val b = Seq((3L, "z", 3.5), (1L, "x", 1.5), (2L, "y", 2.5))
      .toDF("k", "s", "v")
    val c = Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", 3.6))
      .toDF("k", "s", "v")
    assert(SkewIdentity.msetSig(a) === SkewIdentity.msetSig(b))
    assert(SkewIdentity.msetSig(a) !== SkewIdentity.msetSig(c))
    // column ORDER doesn't matter either (columns are sorted by name)
    val d = b.select("v", "k", "s")
    assert(SkewIdentity.msetSig(a) === SkewIdentity.msetSig(d))
  }

  test("identity: salted paths match direct twins on a Zipf fixture") {
    import graft.operators.Skew
    import org.apache.spark.sql.types.DecimalType
    // celebrity key 7 carries half the rows; values vary per row
    val ev = spark.range(4000).select(
      col("id").as("event_id"),
      when(col("id") % 2 === 0, lit(7L))
        .otherwise(pmod(col("id"), lit(97L))).as("user_id"),
      round(pmod(col("id") * 37, lit(500)).cast("double") / 7.0, 2)
        .as("value"))
    val dec = DecimalType(38, 6)
    val direct = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value"), 6).cast(dec)).cast("double")
          .as("value_sum"))
    val salted = Skew.saltedCountSum(ev, Seq("user_id"), "value",
      col("event_id"), salt = 16)
    assert(SkewIdentity.msetSig(salted) === SkewIdentity.msetSig(direct))

    val dim = ev.groupBy(col("user_id")).agg(min(col("event_id")).as("first"))
    val plain = ev.select("event_id", "user_id").join(dim, Seq("user_id"))
    val sj = Skew.saltedJoin(ev.select("event_id", "user_id"), dim,
      Seq("user_id"), col("event_id"), salt = 16)
    assert(SkewIdentity.msetSig(sj) === SkewIdentity.msetSig(plain))
  }
}
