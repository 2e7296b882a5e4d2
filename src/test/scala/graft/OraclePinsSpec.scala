package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pin locks for the shared-literal oracle constants (OraclePins).
  *
  * Each oracle plants the PIN as source literals while the engine
  * computes the formula live — so an engine-formula mutation drifts
  * the query result off the oracle and the driver compare reads RED
  * (the pre-pin live-call shape was tautological: both sides changed
  * together, proven by tools/killtest.py). These locks make a
  * formula change CONSCIOUS: it must regenerate the pin, and the lock
  * failure message says so. No Spark session needed — pure constants. */
class OraclePinsSpec extends AnyFunSuite {

  test("q203 Benford pin == Validate.BenfordP") {
    assert(OraclePins.q203BenfordP ===
      graft.operators.Validate.BenfordP,
      "BenfordP drifted off the q203 pin — regenerate " +
        "OraclePins.q203BenfordP if the change is intentional, or if " +
        "this JVM's libm rounds log10 differently (last-ulp-only drift " +
        "on an unchanged formula = platform, see OraclePins doc)")
  }
}
