package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.Hashing.{md5Hash32, md5Hash60}

/** Text-analysis column functions for large-scale training-data
  * pipelines: tokenization, shingling, MinHash, SimHash, language ID,
  * quality scoring, fingerprinting. All pure Catalyst column trees
  * (split/transform/aggregate HOFs) — codegen-friendly, no UDFs.
  * Every hash comes from the engine-portable md5 of [[Hashing]], so the
  * DuckDB oracles replay it.
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

  /** Universal-hash constants for MinHash: fixed odd multipliers
    * a < 2^31 and addends b < 2^31, so `a*h + b` for a 32-bit `h` stays
    * inside a signed 64-bit long in every engine (no wraparound —
    * DuckDB BIGINT errors on overflow where JVM longs wrap). */
  val MinhashA: Seq[Long] = Seq(
    1222233431L, 1949673569L, 2038074743L, 1561403177L,
    1291735313L, 1678349045L, 1117984489L, 2147418083L,
    1823958401L, 1990744609L, 1234567891L, 1853125581L,
    1431655765L, 1973594693L, 1111181111L, 2046916619L)
  val MinhashB: Seq[Long] = Seq(
    376438541L, 981939193L, 557722239L, 1046527479L,
    124338077L, 1903763717L, 633395103L, 287984159L,
    1734205871L, 447362207L, 1092548707L, 814627339L,
    1569814297L, 230498837L, 1987654321L, 55555333L)

  /** `k` MinHash minima from ONE base-hash array: per seed `i`, the
    * minimum over shingles of `(a_i*h + b_i) mod 2^32` — classic affine
    * universal hashing, so the expensive md5 runs once per shingle
    * instead of once per (shingle, seed). Column-HOF form kept for
    * cross-checking the codegen kernel. */
  def minhashFromHashes(hashes: Column, k: Int): Column = {
    require(k <= MinhashA.length, s"k must be <= ${MinhashA.length}")
    array((0 until k).map { i =>
      array_min(transform(hashes,
        h => (h * lit(MinhashA(i)) + lit(MinhashB(i))) % lit(4294967296L)))
    }: _*)
  }

  /** MinHash signature straight from a shingle array — codegen'd kernel
    * ([[graft.expr.MinHashSignature]]): md5 + k affine minima in one
    * primitive loop per row. */
  def minhashOfShingles(shingleArr: Column, k: Int): Column = {
    require(k <= MinhashA.length, s"k must be <= ${MinhashA.length}")
    ColumnBridge.column(graft.expr.MinHashSignature(
      ColumnBridge.expression(shingleArr), k))
  }

  /** MinHash signature over word `n`-gram shingles: array of `k`
    * minima. Convenience single-column form; [[operators.Dedup]] stages
    * the word/shingle arrays in separate projections so each is
    * computed once per row. */
  def minhashSignature(text: Column, n: Int, k: Int,
      hash: (Column, Int) => Column = md5Hash32): Column =
    minhashOfShingles(shingles(text, n), k)

  /** LSH band keys from a minhash signature: `bands` strings of
    * `k/bands` signature entries each. */
  def bandKeys(signature: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws(",", transform(slice(signature, b * rows + 1, rows),
          _.cast("string"))).as("bucket"))
    }: _*)
  }

  /** SimHash over word hashes: bit b is set iff Σ_w (±1 per word's bit
    * b) ≥ 0. `bits` ≤ 32 with the portable hash. Single pass over the
    * word hashes: one aggregate carries all `bits` vote counters as an
    * array accumulator (vs. the naive form that re-walks the words —
    * and recomputes their md5s — once per bit). */
  def simhashFromHashes(hashes: Column, bits: Int): Column = {
    val masks = array((0 until bits).map(b => lit(1L << b)): _*)
    val votes = aggregate(hashes, array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0L, lit(1L)).otherwise(lit(-1L))))
    aggregate(
      zip_with(votes, masks,
        (v, m) => when(v >= 0L, m).otherwise(lit(0L))),
      lit(0L), _ + _)
  }

  /** SimHash straight from a word array — codegen'd kernel
    * ([[graft.expr.SimHashText]]): md5 + bit votes in one primitive
    * loop per row. */
  def simhashOfWords(wordArr: Column, bits: Int = 32): Column =
    ColumnBridge.column(graft.expr.SimHashText(
      ColumnBridge.expression(wordArr), bits))

  def simhash(text: Column, bits: Int = 32,
      hash: (Column, Int) => Column = md5Hash32): Column =
    simhashOfWords(words(text), bits)

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact word-set Jaccard similarity of two texts' n-gram sets. */
  def jaccardShingles(a: Column, b: Column): Column = {
    val (sa, sb) = (array_distinct(a), array_distinct(b))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text
    * (rolling-hash alternative: `xxhash64` of [[normalized]]). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", words(text)))

  /** Normalized text: lowercased, whitespace collapsed to single
    * spaces, trimmed — the base string for char-gram fingerprints. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Character `k`-gram hashes of ALREADY-normalized text ([[normalized]]
    * staged as its own attribute — inlining it here would re-run the
    * normalization regex per element): position i → 32-bit portable hash
    * of the k chars starting at i (the hash sequence a rolling
    * Rabin-Karp hash would produce, in engine-portable form). */
  def charGramHashes(norm: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
      i => md5Hash32(norm.substr(i, lit(k)), 0))

  /** 60-bit hashes of every `l`-token window (the substring-dedup
    * inner loop): codegen'd single-digest-per-window kernel
    * ([[graft.expr.WordWindowHash60]]); values identical to
    * `md5Hash60(concat_ws(" ", slice(words, i, l)))`. */
  def wordWindowHashes(text: Column, l: Int): Column =
    ColumnBridge.column(graft.expr.WordWindowHash60(
      ColumnBridge.expression(normalized(text)), l))

  /** Column-HOF twin of [[wordWindowHashes]] for cross-checking the
    * kernel (and as the form any md5-capable engine can replay). */
  def wordWindowHashesHof(ws: Column, l: Int): Column =
    when(size(ws) < l, array().cast("array<bigint>")).otherwise(
      transform(sequence(lit(1), size(ws) - (l - 1)),
        i => md5Hash60(concat_ws(" ", slice(ws, i, lit(l))))))

  /** Content-defined-chunking cut positions (the [[operators.Dedup.cdcChunks]]
    * inner loop): codegen'd single-digest-per-window kernel
    * ([[graft.expr.CdcCuts]]); values identical to [[cdcCutsHof]]. */
  def cdcCutPositions(text: Column, w: Int, divisor: Int, seed: Int): Column =
    ColumnBridge.column(graft.expr.CdcCuts(
      ColumnBridge.expression(text), w, divisor, seed))

  /** Column-HOF twin of [[cdcCutPositions]] for cross-checking the
    * kernel (and the form any md5-capable engine can replay): every
    * position whose trailing `w`-char window hashes to 0 mod
    * `divisor`. */
  def cdcCutsHof(text: Column, w: Int, divisor: Int, seed: Int): Column = {
    val n = length(text)
    when(n >= w,
      filter(sequence(lit(w), n), i =>
        pmod(md5Hash32(text.substr(i - lit(w - 1), lit(w)), seed),
          lit(divisor)) === 0))
      .otherwise(array().cast("array<int>"))
  }

  /** Winnowing document fingerprint (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03): slide a window of `w` over the char `k`-gram hashes,
    * keep each window's minimum, dedupe + sort. Guarantees any shared
    * substring of length ≥ k+w-1 yields a shared fingerprint — the
    * standard local-fingerprint scheme for partial-overlap detection at
    * corpus scale (pairs meet through fingerprint buckets, never an
    * unblocked self-join). Codegen'd deque kernel
    * ([[graft.expr.WinnowText]]), O(chars) per row. */
  def winnowFingerprint(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(graft.expr.WinnowText(
      ColumnBridge.expression(normalized(text)), k, w))

  /** Column-HOF twin of [[winnowFingerprint]] for cross-checking the
    * kernel — pass the normalized text attribute. */
  def winnowFingerprintHof(norm: Column, k: Int, w: Int): Column = {
    val hs = charGramHashes(norm, k)
    array_sort(array_distinct(
      transform(sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
        j => array_min(slice(hs, j, lit(w))))))
  }

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
