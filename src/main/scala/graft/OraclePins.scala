package graft

/** PINNED shared-literal oracle constants.
  *
  * Four oracles used to call their ENGINE formula at SQL-construction
  * time — q107 (`Recsys.timeDecayLambda`), q117
  * (`Evaluation.dcgDiscountsMicro`), q201 (`Evaluation.PoissonCdf`),
  * q203 (`Validate.BenfordP`). That shape is a tautology: a mutation
  * in the generation formula changes BOTH sides identically and the
  * driver compare stays GREEN (demonstrated live by
  * tools/killtest.py on a weight-table oracle of the same structure
  * before its pin landed). Each constant below is the formula's output
  * FROZEN as source literals; the oracle plants the pin, the engine
  * keeps computing live, and OraclePinsSpec locks `pin == formula` so
  * a conscious formula change must regenerate the pin. Both sides
  * still consume bit-identical doubles/longs — the IEEE-exactness
  * property that motivated the sharing in the first place.
  *
  * PLATFORM/LIBM ASSUMPTION (r14 ADVICE): pins that pass through
  * transcendental functions (`Math.log10`, `Math.exp`) are exact only
  * for the libm this JVM links — IEEE 754 does not require correctly
  * rounded transcendentals, and e.g. the q203 d=3 value
  * 0.12493873660829993 differs in its last ulp from CPython's log10
  * on the same box. The pins were generated by THIS project's JVM
  * (Temurin 17 / glibc x86-64); on a JVM whose log10/exp rounds a
  * last ulp differently, an OraclePinsSpec lock failure (and the
  * q107/q201/q203 driver compares) means "regenerate the pins on this
  * platform", NOT "the formula regressed" — the spec failure messages
  * say so. Integer-carrier pins (q117 micro-discounts) are
  * platform-independent once generated. */
private[graft] object OraclePins {

  /** q107: half-life decay rate `ln 2 / 24h` (Recsys.timeDecayLambda). */
  val q107Lambda24: Double = 0.028881132523331052

  /** q117: micro-unit DCG discounts `round(1e12 / log2(r+1))`,
    * ranks 1..20 (Evaluation.dcgDiscountsMicro). */
  val q117DiscountsMicro: Seq[Long] = Seq(
    1000000000000L, 630929753571L, 500000000000L, 430676558073L,
    386852807235L, 356207187108L, 333333333333L, 315464876786L,
    301029995664L, 289064826318L, 278942945651L, 270238154427L,
    262649535037L, 255958024810L, 250000000000L, 244650542118L,
    239812466568L, 235408913367L, 231378213160L, 227670248697L)

  /** q201: Poisson(1) CDF thresholds C_0..C_12 (Evaluation.PoissonCdf). */
  val q201PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
    0.9999998885745216, 0.9999999899522336, 0.9999999991683892,
    0.9999999999364022)

  /** q203: Benford first-digit probabilities `log10(1+1/d)`, d=1..9
    * (Validate.BenfordP). */
  val q203BenfordP: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
}
