package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.expr.Rpn
import graft.operators.Normalize

class RpnSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val df = Seq(
    (1.0, 2.0, 3.0), (4.0, 5.0, 6.0), (7.0, 8.0, 9.0)
  ).toDF("a", "b", "c")

  private def eval(expr: String): Array[Double] =
    Rpn(df, expr, "r").select("r").as[Double].collect()

  test("reference fixture: 'a b c * *' = a*b*c (init-etcd.sh compute 1)") {
    assert(eval("a b c * *") === Array(6.0, 120.0, 504.0))
  }

  test("arithmetic, comparisons, boolean, unary") {
    assert(eval("a b +") === Array(3.0, 9.0, 15.0))
    assert(eval("b a -") === Array(1.0, 1.0, 1.0))
    assert(eval("a 2 ^") === Array(1.0, 16.0, 49.0))
    assert(eval("a 4 >") === Array(0.0, 0.0, 1.0))
    assert(eval("a 4 <= b 5 >= &") === Array(0.0, 1.0, 0.0))
    assert(eval("a 2 < b 7 > |") === Array(1.0, 0.0, 1.0))
    assert(eval("a b min") === Array(1.0, 4.0, 7.0))
    assert(eval("0 a - abs") === Array(1.0, 4.0, 7.0))
    eval("a log exp").zip(Array(1.0, 4.0, 7.0)).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-12) }
  }

  test("norm_min_max matches (x-min)/(max-min) (fixture t2 shape)") {
    assert(eval("a b + 2 ^ norm_min_max") === Array(0.0, (81.0 - 9) / (225 - 9), 1.0))
  }

  test("percentile_rank: rank/(n-1) with ties") {
    val d2 = Seq(10.0, 20.0, 20.0, 30.0).toDF("x")
    val out = Rpn(d2, "x percentile_rank", "r").select("r").as[Double]
      .collect().sorted
    assert(out === Array(0.0, 1.0 / 3, 1.0 / 3, 1.0))
  }

  test("strict mode: division by zero fails the query (fp32_ops.rs:58-76)") {
    val d2 = Seq((1.0, 0.0)).toDF("a", "b")
    val e = intercept[Exception] { Rpn(d2, "a b /", "r").collect() }
    assert(e.getMessage.toLowerCase.contains("division by zero"))
    // non-strict: Spark null semantics
    assert(Rpn(d2, "a b /", "r", strict = false).select("r").first().isNullAt(0))
  }

  test("strict mode: log domain and non-boolean & inputs fail") {
    val d2 = Seq((-1.0, 0.5)).toDF("a", "b")
    assert(intercept[Exception] { Rpn(d2, "a log", "r").collect() }
      .getMessage.contains("log of non-positive"))
    assert(intercept[Exception] { Rpn(d2, "b b &", "r").collect() }
      .getMessage.contains("non-boolean"))
  }

  test("malformed expressions rejected at compile time") {
    intercept[IllegalArgumentException] { Rpn(df, "a b", "r") }      // leftovers
    intercept[IllegalArgumentException] { Rpn(df, "a +", "r") }      // underflow
    intercept[IllegalArgumentException] { Rpn(df, "nope 1 +", "r") } // unknown col
    intercept[IllegalArgumentException] { Rpn(df, "", "r") }
  }

  test("compiles to a single fused projection when no norms involved") {
    val plan = Rpn(df, "a b * c + 2 ^", "r").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange")) // no shuffle for pure elementwise math
  }

  test("percentRank joins back all rows, exactly once") {
    val li = Tables.lineitem(spark, sf)
    val out = Normalize.percentRank(li, "l_quantity", "pr")
    assert(out.count() === li.count())
    assert(out.filter($"pr".isNull).count() === 0)
  }

  test("percentRank over nulls and ties equals a brute-force count") {
    // pinned semantics: a null counts toward n and sorts first (smaller
    // than every value); a null row itself ranks null
    val rnd = new scala.util.Random(11)
    val xs: Seq[Option[Int]] = (1 to 300).map(_ =>
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(40)))
    val in = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("id", "x").repartition(7)
    val got = Normalize.percentRank(in, "x", "pr")
      .select("id", "pr").as[(Long, Option[Double])].collect().toMap
    assert(got.size === xs.size)
    val nulls = xs.count(_.isEmpty)
    xs.zipWithIndex.foreach { case (x, i) =>
      val want = x.map(v =>
        (nulls + xs.flatten.count(_ < v)).toDouble / (xs.size - 1))
      assert(got(i.toLong) === want, s"row $i (x = $x)")
    }
  }
}
