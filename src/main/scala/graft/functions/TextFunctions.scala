package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions: tokenization, shingling, PII
  * masking, language ID and quality scoring. All pure Catalyst column
  * trees (split/transform/aggregate HOFs) — codegen-friendly, no UDFs.
  */
object TextFunctions {

  /** Whitespace word split of normalized text. */
  def words(text: Column): Column =
    split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(words(text))

  /** BPE-ish token count: letter runs, digit runs, and single
    * punctuation marks each count as one token. */
  def subTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles: `"a b c d"` → `["a b c", "b c d"]` (n=3).
    * CONVENIENCE ONLY — the shingle lambda references `ws` per
    * element, so the inlined regex split re-runs once per shingle per
    * row (measured 10× wall on a real corpus). In any per-row hot
    * path, stage `words(text).as("__w")` in a projection and call
    * [[shinglesFromWords]] on the attribute instead. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromWords(words(text), n)

  /** Shingles from an already-materialized word array — use this with a
    * staged projection so the regex word split runs once per row
    * (passing a non-attribute expression re-evaluates it per shingle:
    * the lambda body references `ws` for every sequence element). */
  def shinglesFromWords(ws: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(ws, i, lit(n))))

  // ---- PII scrubbing (the masking pass a curation pipeline runs
  // before releasing or training on scraped text). The three patterns
  // stay inside the Java-regex ∩ RE2 common subset (classes, bounded
  // repeats, \b) so the DuckDB oracle applies them verbatim. ----
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{10}\\b"

  /** Count of non-overlapping matches of `re` (count first, mask after). */
  def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  /** Mask emails → `<EMAIL>`, IPv4 → `<IP>`, 10-digit phones →
    * `<PHONE>`. Email first (its local part may contain digits/dots),
    * then IP (so `<EMAIL>` can't create digit runs), then phone (an
    * IPv4 octet is ≤3 digits, so masking order can't conflate them). */
  def maskPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  // --- language ID + quality -------------------------------------------

  /** Tiny per-language stopword lists (top function words). Public
    * knowledge; enough for the n-gram-heuristic language ID the
    * pipeline needs. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "zu", "den", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "les"))

  /** Stopword-hit count for one language over a staged word array. */
  def stopwordHitsFromWords(w: Column, lang: String): Column =
    size(array_intersect(w, array(stopwords(lang).map(lit): _*)))

  /** Stopword-hit count for one language. */
  def stopwordHits(text: Column, lang: String): Column =
    stopwordHitsFromWords(words(text), lang)

  /** Language ID from per-language hit counts (stage the hits as
    * attributes first — see [[langId]]'s note). The when-chain is the
    * argmax with ties to the earlier language code: exactly the CASE
    * the SQL oracles run. */
  def langIdFromHits(hDe: Column, hEn: Column, hEs: Column, hFr: Column): Column =
    when(greatest(hDe, hEn, hEs, hFr) === 0, "und")
      .when(hDe >= hEn && hDe >= hEs && hDe >= hFr, "de")
      .when(hEn >= hEs && hEn >= hFr, "en")
      .when(hEs >= hFr, "es")
      .otherwise("fr")

  /** Heuristic language ID: argmax of stopword hits, ties broken by
    * language code ascending; no hits at all → 'und'.
    *
    * NOTE a struct-reduce argmax here would inline each comparison's
    * operand tree into both the condition and the value of every
    * `when`, duplicating the word split COMBINATORIALLY (measured 30+
    * regex evaluations per row at four languages). The flat when-chain
    * keeps each hit count's tree to a handful of references, and
    * staged projections (`stopwordHitsFromWords` over a words
    * attribute) reduce it to one split per row. */
  def langId(text: Column): Column =
    langIdFromHits(stopwordHits(text, "de"), stopwordHits(text, "en"),
      stopwordHits(text, "es"), stopwordHits(text, "fr"))

  /** Quality heuristics: token count, mean word length, punctuation
    * ratio, English-stopword ratio, and a blended [0,1] score. */
  def qualityFeatures(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val meanLen = length(concat_ws("", words(text))).cast("double") / nTok
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
      .cast("double") / length(text).cast("double")
    val stopRatio = stopwordHits(text, "en").cast("double") / nTok
    struct(nTok.as("n_tokens"), meanLen.as("mean_word_len"),
      punct.as("punct_ratio"), stopRatio.as("stopword_ratio"))
  }

  /** Most frequent element of a staged bigram array as
    * `struct(c, g)` — count first so the natural struct ordering is
    * (count, then gram), ties resolved to the lexicographically larger
    * gram in BOTH engines. O(d²) in distinct grams per row, but fully
    * row-local (no shuffle); stage the result as an attribute — it
    * feeds several metrics and must not re-expand per use. */
  def topGram(bg: Column): Column =
    array_max(transform(array_distinct(bg),
      g => struct(size(filter(bg, x => x === g)).as("c"), g.as("g"))))

  /** Repetition quality signals (the Gopher-family repetition rules —
    * Rae et al. 2021, "Scaling Language Models", Table A1): fraction of
    * duplicate words and fraction of word characters covered by the
    * most frequent word bigram. Computed over staged word/bigram/top
    * attributes; every signal is row-local arithmetic. */
  def repetitionFeatures(w: Column, top: Column): Column = {
    val nW = size(w).cast("double")
    val chars = length(concat_ws("", w)).cast("double")
    struct(
      size(w).cast("long").as("n_words"),
      round(lit(1.0) - size(array_distinct(w)).cast("double") / nW, 6)
        .as("dup_word_frac"),
      top.getField("g").as("top_bigram"),
      top.getField("c").cast("long").as("top_bigram_cnt"),
      round((top.getField("c") * length(top.getField("g"))).cast("double") /
        chars, 6).as("top_bigram_char_frac"))
  }
}
