package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Benchmark decontamination for training corpora: flag documents that
  * share any word n-gram with a held-out benchmark/eval set. This is
  * the standard pretraining hygiene step (n-gram overlap against eval
  * suites) that any 100 TB corpus build runs before training.
  *
  * == Scale design ==
  * The benchmark side is tiny relative to the corpus (eval suites are
  * MBs; the corpus is TBs), so its distinct gram set is broadcast and
  * the corpus-side probe is a map-side hash semi-join — the 100 TB scan
  * never shuffles. The corpus grams are deduped per document BEFORE the
  * join (`array_distinct` inside the row) so a document repeating a
  * contaminated gram doesn't inflate the probe. When the benchmark side
  * outgrows broadcast, the same plan degrades gracefully: Spark's
  * runtime Bloom-filter join (AQE `runtime.bloomFilter.enabled`)
  * prunes the corpus scan with the benchmark's gram filter before the
  * shuffle; semantics are unchanged.
  */
object Decontaminate {

  /** Per-document contamination report: for every document in `docs`
    * sharing at least one word `n`-gram with `bench`, the number of
    * distinct overlapping grams. Clean documents are absent (join
    * semantics — anti-join against the result is the "keep" set).
    */
  def overlapReport(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    // stage the word split as an attribute BEFORE shingling: the
    // shingle lambda references the array per gram, and an inline
    // words() expression would re-run the regex split per element
    // (O(len²) — measured 4x on the corpus leg)
    val docGrams = docs
      .select(col(idCol), TextFunctions.words(col(textCol)).as("__w"))
      .select(col(idCol),
        explode(array_distinct(TextFunctions.shinglesFromWords(col("__w"), n)))
          .as("gram"))
    val benchGrams = bench
      .select(TextFunctions.words(col(textCol)).as("__w"))
      .select(explode(array_distinct(
        TextFunctions.shinglesFromWords(col("__w"), n))).as("gram"))
      .distinct()
    docGrams.join(broadcast(benchGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** The decontaminated corpus: documents from `docs` with NO word
    * n-gram overlap against `bench` — a broadcast left-anti join, so
    * the corpus scan streams map-side. */
  def clean(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    val contaminated = overlapReport(docs, bench, idCol, textCol, n)
      .select(col(idCol))
    docs.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Per-document n-gram novelty against a reference corpus: what
    * share of a test document's distinct n-grams NEVER appear in
    * training data — the memorization-risk score (novelty ≈ 0 means
    * the eval document is effectively training data; [[clean]] drops
    * hard overlaps, this grades the gray zone). Same shingling as the
    * contamination path.
    *
    * == Scale ==
    * The training side reduces to its DISTINCT gram set once; the
    * per-doc gram fan-out joins it on the gram key (shuffle or
    * broadcast as AQE sizes it) and reduces straight back to one row
    * per document. Output: `(idCol, n_grams, n_seen, novelty)`. */
  def noveltyScore(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    import graft.functions.TextFunctions.{shinglesFromWords, words}
    val trainGrams = train
      .select(explode(shinglesFromWords(words(col(textCol)), n))
        .as("__gram"))
      .filter(col("__gram") =!= "").distinct()
      .withColumn("__seen", lit(1L))
    val testGrams = test
      .select(col(idCol),
        explode(array_distinct(
          shinglesFromWords(words(col(textCol)), n))).as("__gram"))
      .filter(col("__gram") =!= "")
    testGrams.join(trainGrams, Seq("__gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__seen")), lit(0L)).as("n_seen"))
      .withColumn("novelty",
        lit(1.0) - col("n_seen").cast("double") /
          col("n_grams").cast("double"))
  }
}
