package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.Minifloat

/** ScalaCheck laws for the quantization kernels (SURVEY §5 plan item 2:
  * "quantize monotonicity/idempotence"). Pure JVM — the Catalyst
  * expressions call these same static kernels from codegen. */
object MinifloatProps extends Properties("Minifloat") {

  private val finiteDouble: Gen[Double] =
    Gen.chooseNum(-1e6, 1e6).suchThat(d => !d.isNaN && !d.isInfinite)

  private val kernels: Seq[(String, Double => Float)] = Seq(
    ("fp16", Minifloat.fp16), ("fp8e4m3", Minifloat.fp8e4m3),
    ("fp8e5m2", Minifloat.fp8e5m2))

  // e4m3 has no Inf encoding: overflow → NaN (reference float8_e4m3.go
  // emits the 0x7f NaN byte). NaN is unordered, so the order/sign laws
  // quantify over the format's finite range only.
  for ((name, q) <- kernels) {
    property(s"$name idempotent") = forAll(finiteDouble) { d =>
      val once = q(d)
      if (once.isNaN) q(once.toDouble).isNaN else q(once.toDouble) == once
    }
    property(s"$name monotone (finite outputs)") =
      forAll(finiteDouble, finiteDouble) { (a, b) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        val (ql, qh) = (q(lo), q(hi))
        ql.isNaN || qh.isNaN || ql <= qh
      }
    property(s"$name sign-preserving (finite outputs)") =
      forAll(finiteDouble) { d =>
        val r = q(d)
        r.isNaN || r == 0f || (r > 0f) == (d > 0.0)
      }
  }

  property("fp16 relative error <= 2^-11 in normal range") =
    forAll(Gen.chooseNum(6.2e-5, 6.0e4)) { d =>
      math.abs(Minifloat.fp16(d) - d) / d <= math.pow(2, -11) + 1e-12
    }

  property("overflow specials pin the reference byte conversions") = Prop(
    // e4m3: no infinities — overflow and ±Inf land on the NaN byte
    Minifloat.fp8e4m3(1e9).isNaN && Minifloat.fp8e4m3(-1e9).isNaN &&
    Minifloat.fp8e4m3(Double.PositiveInfinity).isNaN &&
    // fp16/e5m2 HAVE infinities — overflow rounds to ±Inf
    Minifloat.fp16(1e9).isPosInfinity &&
    Minifloat.fp8e5m2(1e9).isPosInfinity &&
    Minifloat.fp8e5m2(-1e9).isNegInfinity)
}

// ---------------------------------------------------------------------

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.Rpn
import graft.operators.InteractionStore

/** Seeded randomized Spark-side properties (SURVEY §5 plan items:
  * "RPN compiler vs direct eval on random expressions", "merge-sort-cap
  * invariants"). Each test draws from its own fixed-seed generator, so
  * its inputs do not depend on which tests run before it, and keeps a
  * bounded case count, so runs are deterministic and fast. */
class RandomizedSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def seeded() = new scala.util.Random(42)

  /** Reference stack interpreter for RPN over a row of named values —
    * independent of the Column compiler under test. */
  private def interp(rpn: String, row: Map[String, Double]): Double = {
    val stack = scala.collection.mutable.Stack[Double]()
    rpn.split("\\s+").foreach {
      case "+" => val b = stack.pop(); val a = stack.pop(); stack.push(a + b)
      case "-" => val b = stack.pop(); val a = stack.pop(); stack.push(a - b)
      case "*" => val b = stack.pop(); val a = stack.pop(); stack.push(a * b)
      case "min" => val b = stack.pop(); val a = stack.pop(); stack.push(math.min(a, b))
      case "max" => val b = stack.pop(); val a = stack.pop(); stack.push(math.max(a, b))
      case "abs" => stack.push(math.abs(stack.pop()))
      case t if row.contains(t) => stack.push(row(t))
      case lit => stack.push(lit.toDouble)
    }
    require(stack.size == 1); stack.pop()
  }

  private def randomRpn(rnd: scala.util.Random, depth: Int): String = {
    val bin = Seq("+", "-", "*", "min", "max")
    def gen(d: Int): Seq[String] =
      if (d == 0) Seq(rnd.shuffle(Seq("a", "b", "c",
        f"${rnd.nextDouble() * 10 - 5}%.3f")).head)
      else rnd.nextInt(5) match {
        case 0 => gen(0)
        case 4 => gen(d - 1) :+ "abs"
        case _ => gen(d - 1) ++ gen(d - 1) :+ bin(rnd.nextInt(bin.size))
      }
    gen(depth).mkString(" ")
  }

  test("RPN compiler matches an independent stack interpreter (30 random exprs)") {
    val rnd = seeded()
    val rows = Seq.fill(20)((rnd.nextDouble() * 20 - 10,
      rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10))
    val df = rows.toDF("a", "b", "c")
    (1 to 30).foreach { _ =>
      val e = randomRpn(rnd, 2 + rnd.nextInt(2))
      val got = Rpn(df, e, "out").select("out").as[Double].collect()
      val want = rows.map { case (a, b, c) =>
        interp(e, Map("a" -> a, "b" -> b, "c" -> c)) }
      got.zip(want).foreach { case (g, w) =>
        assert(g === w, s"expr: $e") } // identical fp op order → bit-exact
    }
  }

  test("mergeCap invariants + salted two-phase equivalence (random event sets)") {
    val rnd = seeded()
    val events = Seq.fill(800)((
      rnd.nextInt(5).toLong,
      java.sql.Timestamp.valueOf(
        f"2024-01-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:00:00"),
      rnd.nextLong().abs
    )).toDF("user_id", "ts", "event_id").cache()
    val cap = 7
    val unsalted = InteractionStore.mergeCap(events, cap = cap)
    val salted = InteractionStore.mergeCap(events, cap = cap, salt = 8)
    // invariant: per (user, week) at most cap rows, and they are the newest
    val counts = unsalted
      .groupBy($"user_id", InteractionStore.week($"ts")).count()
      .select("count").as[Long].collect()
    assert(counts.forall(_ <= cap))
    assert(unsalted.count() > 0)
    // salted == unsalted exactly
    val key = Seq("user_id", "ts", "event_id")
    assert(salted.exceptAll(unsalted).isEmpty && unsalted.exceptAll(salted).isEmpty)
    // output ⊆ input
    assert(unsalted.exceptAll(events).isEmpty)
    events.unpersist()
  }

  test("constrainedRerank invariant under 1/4/32-partition shuffles") {
    val rnd = seeded()
    // few distinct scores → heavy ties; the event-id tie-break must
    // make the slate identical under any physical row order
    val rows = Seq.fill(600)((
      rnd.nextInt(5).toLong, rnd.nextInt(4).toLong,
      rnd.nextInt(6) * 0.5, rnd.nextLong().abs)).distinct
    val df = rows.toDF("g", "cat", "score", "id")
    def run(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      graft.operators.Pipeline.constrainedRerank(
          d, Seq("g"), "score", "cat", "id", maxPerCat = 2, k = 5)
        .select($"g", $"id", $"rank").as[(Long, Long, Int)].collect().toSet
    val base = run(df.repartition(1))
    assert(base.nonEmpty)
    assert(run(df.repartition(4, $"cat")) === base)
    assert(run(df.repartition(32, $"id")) === base)
  }

  test("position-bias session ranking invariant under 1/4/32-partition shuffles") {
    val rnd = seeded()
    // q145's window shape: row_number over (user, day) ordered by
    // (ts, event_id); duplicated ts values stress the tie-break
    val rows = Seq.fill(500)((
      rnd.nextInt(6).toLong,
      java.sql.Timestamp.valueOf(
        f"2024-02-${1 + rnd.nextInt(3)}%02d ${rnd.nextInt(4)}%02d:00:00"),
      rnd.nextLong().abs,
      rnd.nextInt(2).toLong)).distinct
    val df = rows.toDF("user_id", "ts", "event_id", "click")
    def run(d: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long)] = {
      val sess = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id", to_date($"ts"))
        .orderBy($"ts".asc, $"event_id".asc)
      d.withColumn("position", row_number().over(sess))
        .filter($"position" <= 20)
        .groupBy($"position")
        .agg(count(lit(1)).as("n"), sum($"click").as("c"))
        .as[(Int, Long, Long)].collect().toSet
    }
    val base = run(df.repartition(1))
    assert(base.nonEmpty)
    assert(run(df.repartition(4, $"ts")) === base)
    assert(run(df.repartition(32)) === base)
  }

  test("resampleHourlyFill invariant under 1/4/32-partition shuffles") {
    val rnd = seeded()
    // ragged event stream with multi-event hours and gap hours; the
    // forward-fill carry must be identical under any physical order
    val rows = Seq.fill(400)((
      rnd.nextInt(5).toLong,
      java.sql.Timestamp.valueOf(
        f"2024-03-${1 + rnd.nextInt(4)}%02d ${rnd.nextInt(24)}%02d:" +
          f"${rnd.nextInt(60)}%02d:00"),
      rnd.nextInt(200) * 0.25)).distinct
    val df = rows.toDF("user_id", "ts", "value")
    def run(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Option[Long])] =
      graft.operators.InteractionStore.resampleHourlyFill(d)
        .as[(Long, Long, Long, Option[Long])].collect().toSet
    val base = run(df.repartition(1))
    assert(base.nonEmpty)
    assert(run(df.repartition(4, $"user_id")) === base)
    assert(run(df.repartition(32, $"value")) === base)
  }

  test("hashSampleQuantiles invariant under 1/4/32-partition shuffles") {
    val rnd = seeded()
    // heavy value ties stress the (value, hash) tie rule in both the
    // bottom-k membership and the rank index
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextInt(8) * 1.5))
    val df = rows.toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame): Set[(Double, Double)] =
      graft.operators.Sketches.hashSampleQuantiles(
          d, "v", "id", k = 50, probs = Seq(0.1, 0.5, 0.9))
        .as[(Double, Double)].collect().toSet
    val base = run(df.repartition(1))
    assert(base.size === 3)
    assert(run(df.repartition(4, $"v")) === base)
    assert(run(df.repartition(32, $"id")) === base)
  }

  test("uint64 maps to DecimalType(20,0): full unsigned range survives") {
    import graft.core.FeatureType
    val maxU64 = BigDecimal("18446744073709551615") // 2^64 - 1
    val df = Seq(maxU64, BigDecimal(0), BigDecimal("9223372036854775808"))
      .toDF("u").select($"u".cast(FeatureType.Uint64.sparkType).as("u"))
    val vals = df.as[java.math.BigDecimal].collect().map(BigDecimal(_)).sorted
    assert(vals === Seq(BigDecimal(0), BigDecimal("9223372036854775808"), maxU64))
    // aggregates stay exact at the top of the range
    val total = df.agg(sum($"u")).as[java.math.BigDecimal].head()
    assert(BigDecimal(total) === maxU64 + BigDecimal("9223372036854775808"))
  }
}
