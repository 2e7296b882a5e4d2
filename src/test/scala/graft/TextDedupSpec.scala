package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions._

class TextDedupSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("words/tokenCount/subTokenCount normalize whitespace") {
    val df = Seq("  The quick,  brown fox! x2 ").toDF("text")
    assert(df.select(tokenCount($"text")).as[Int].head() === 5)
    // the + quick + , + brown + fox + ! + x + 2 = 8
    assert(df.select(subTokenCount($"text")).as[Int].head() === 8)
    assert(df.select(words($"text")).as[Seq[String]].head()
      === Seq("the", "quick,", "brown", "fox!", "x2"))
  }

  test("shingles produce n-grams; short texts degrade gracefully") {
    val df = Seq("a b c d").toDF("text")
    assert(df.select(shingles($"text", 3)).as[Seq[String]].head()
      === Seq("a b c", "b c d"))
    assert(Seq("a b").toDF("text").select(shingles($"text", 3))
      .as[Seq[String]].head() === Seq("a b"))
  }

  test("langId picks the dominant stopword language") {
    val df = Seq(
      "the cat is on the mat and the dog",
      "el gato y la casa de un amigo que vive en madrid",
      "der hund und die katze ist von berlin mit freude",
      "zz qq xx").toDF("text")
    assert(df.select(langId($"text")).as[String].collect()
      === Array("en", "es", "de", "und"))
  }

  test("qualityFeatures ratios are sane") {
    val r = Seq("the cat, the dog!").toDF("text")
      .select(qualityFeatures($"text").as("q")).select("q.*").head()
    assert(r.getAs[Double]("n_tokens") === 4.0)
    assert(r.getAs[Double]("punct_ratio") > 0 && r.getAs[Double]("punct_ratio") < 0.2)
    // stopwordHits counts distinct stopword TYPES present ("the" once)
    assert(r.getAs[Double]("stopword_ratio") === 0.25)
  }

  test("maskPii masks emails, IPv4s and phones; counts match") {
    val df = Seq(
      "mail a.b+c@test.org and 192.168.0.1 then call 9876543210 twice 9876543210",
      "no pii here at all",
      "ip 1.2.3.4 next to email x@y.io").toDF("text")
    val got = df.select(
      piiCount($"text", EmailRe).as("e"), piiCount($"text", Ipv4Re).as("i"),
      piiCount($"text", PhoneRe).as("p"), maskPii($"text").as("m"))
      .as[(Int, Int, Int, String)].collect()
    assert(got(0) === ((1, 1, 2,
      "mail <EMAIL> and <IP> then call <PHONE> twice <PHONE>")))
    assert(got(1) === ((0, 0, 0, "no pii here at all")))
    assert(got(2) === ((1, 1, 0, "ip <IP> next to email <EMAIL>")))
  }

  test("noveltyScore: fully-seen docs score 0, fully-novel score 1, " +
      "mixed docs count exact distinct-gram overlap") {
    import spark.implicits._
    val train = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val test = Seq(
      (1L, "alpha beta gamma delta"),     // all 2 grams seen
      (2L, "one two three four five"),    // all novel
      (3L, "alpha beta gamma nine ten eleven")) // 1 seen of 4
      .toDF("doc_id", "text")
    val got = graft.operators.Decontaminate.noveltyScore(
        train, test, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(1L) === ((1L, 2L, 2L, 0.0)))
    assert(got(2L) === ((2L, 3L, 0L, 1.0)))
    assert(got(3L) === ((3L, 4L, 1L, 1.0 - 1.0 / 4.0)))
  }
}
