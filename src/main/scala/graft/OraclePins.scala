package graft

/** PINNED shared-literal oracle constants.
  *
  * The q203 oracle used to call its ENGINE formula at SQL-construction
  * time (`Validate.BenfordP`). That shape is a tautology: a mutation
  * in the generation formula changes BOTH sides identically and the
  * driver compare stays GREEN (demonstrated live by
  * tools/killtest.py on a weight-table oracle of the same structure
  * before its pin landed). The constant below is the formula's output
  * FROZEN as source literals; the oracle plants the pin, the engine
  * keeps computing live, and OraclePinsSpec locks `pin == formula` so
  * a conscious formula change must regenerate the pin. Both sides
  * still consume bit-identical doubles — the IEEE-exactness
  * property that motivated the sharing in the first place.
  *
  * PLATFORM/LIBM ASSUMPTION (r14 ADVICE): pins that pass through
  * transcendental functions (`Math.log10`) are exact only
  * for the libm this JVM links — IEEE 754 does not require correctly
  * rounded transcendentals, and e.g. the q203 d=3 value
  * 0.12493873660829993 differs in its last ulp from CPython's log10
  * on the same box. The pins were generated by THIS project's JVM
  * (Temurin 17 / glibc x86-64); on a JVM whose log10 rounds a
  * last ulp differently, an OraclePinsSpec lock failure (and the
  * q203 driver compare) means "regenerate the pins on this
  * platform", NOT "the formula regressed" — the spec failure messages
  * say so. */
private[graft] object OraclePins {

  /** q203: Benford first-digit probabilities `log10(1+1/d)`, d=1..9
    * (Validate.BenfordP). */
  val q203BenfordP: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
}
