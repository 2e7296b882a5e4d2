package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Hashing.{Zero, digest, hash32}

/** Primitive kernels behind the text-hash expressions — one tight loop
  * per row instead of interpreted HOF lambdas. Called from whole-stage
  * codegen (static forwarders) and from interpreted eval.
  *
  * Every kernel hashes with the engine-portable md5 of [[Hashing]]
  * ([[Hashing.hash32]], or the same digest fed in place), so the
  * DuckDB oracles replay it.
  */
object TextHashKernels {

  /** SimHash of a word array: bit b set iff Σ_words (±1 per word-hash
    * bit b) ≥ 0. Null words vote -1 on every bit (the HOF two-valued
    * `when` semantics). */
  def simhash(words: ArrayData, bits: Int): Long = {
    val n = words.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) {
        var b = 0
        while (b < bits) { votes(b) -= 1; b += 1 }
      } else {
        val h = hash32(words.getUTF8String(i), 0)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >> b) & 1L) != 0L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var res = 0L
    var b = 0
    while (b < bits) { if (votes(b) >= 0) res |= 1L << b; b += 1 }
    res
  }

  /** Winnowing fingerprint of normalized text: char k-gram hashes, a
    * sliding window of `w`, the minimum per window, distinct + sorted.
    * One pass with a monotonic deque — O(chars) per row vs the
    * O(chars·w) HOF form (whose per-window slice+array_min re-walks).
    * Tie handling is value-irrelevant: only the distinct minima values
    * are kept, so any index choice among equal minima agrees. */
  def winnow(norm: UTF8String, k: Int, w: Int): ArrayData = {
    val len = norm.numChars()
    val g = math.max(len - k + 1, 1)
    val hs = new Array[Long](g)
    val bytes = norm.getBytes
    if (bytes.length == len) {
      // ASCII fast path: char i == byte i, so each gram hashes as a
      // zero-copy slice of the shared byte array (same bytes as the
      // substring path — bit-identical hashes)
      val d = digest.get()
      var i = 0
      while (i < g) {
        d.reset()
        d.update(Zero)
        d.update(bytes, i, math.min(k, bytes.length - i))
        val h = d.digest()
        hs(i) = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        i += 1
      }
    } else {
      var i = 0
      while (i < g) {
        hs(i) = hash32(norm.substringSQL(i + 1, k), 0)
        i += 1
      }
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    val deque = new Array[Int](g)
    var head = 0
    var tail = 0 // deque holds indices of a non-decreasing hash run
    var j = 0
    while (j < g) {
      while (tail > head && hs(deque(tail - 1)) >= hs(j)) tail -= 1
      deque(tail) = j; tail += 1
      if (deque(head) <= j - w) head += 1
      if (j >= w - 1) out.add(hs(deque(head)))
      j += 1
    }
    if (g < w) out.add(hs(deque(head))) // single short window
    val res = new Array[Long](out.size())
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { res(o) = it.next(); o += 1 }
    new GenericArrayData(res)
  }

  /** 60-bit hashes of every `l`-token window of ALREADY-normalized
    * text (single-space separated, as [[TextFunctions.normalized]]
    * produces): window i covers tokens i..i+l-1 and hashes as
    * `md5Hash60` of the window's text. Because normalized tokens are
    * contiguous byte ranges joined by single 0x20 bytes, each window
    * IS a byte slice of the input — the kernel runs one digest per
    * window with zero string building, where the column-HOF form
    * allocates a concat_ws + slice copy per window. Fewer than `l`
    * tokens → empty array. */
  def wordWindowHash60(norm: UTF8String, l: Int): ArrayData = {
    val bytes = norm.getBytes
    var nTokens = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) nTokens += 1
      i += 1
    }
    if (nTokens < l) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) {
        ends(t) = i; t += 1; starts(t) = i + 1
      }
      i += 1
    }
    ends(t) = bytes.length
    val g = nTokens - l + 1
    val out = new Array[Long](g)
    val d = digest.get()
    var w = 0
    while (w < g) {
      val from = starts(w)
      val until = ends(w + l - 1)
      d.reset()
      d.update(bytes, from, until - from)
      val h = d.digest()
      // first 15 hex chars = bytes 0..6 (56 bits) then h(7)'s high nibble
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
      out(w) = (v << 4) | ((h(7) & 0xf0L) >> 4)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Content-defined-chunking cut positions over raw text: position
    * `i` (1-based chars, `w <= i <= numChars`) is a cut when
    * `hash32(chars[i-w+1..i], seed) mod divisor == 0` — value-identical
    * to the column-HOF form
    * `filter(sequence(w, length(t)), i -> pmod(md5Hash32(substr(i-w+1,
    * w), seed), divisor) === 0)`, which evaluates an interpreted
    * conv∘substring∘md5∘concat chain (fresh MessageDigest and hex
    * round-trip per call) once per CHARACTER. Here: one ThreadLocal
    * digest fed the seed prefix + a zero-copy byte slice per window on
    * ASCII text (char i == byte i), `substringSQL` fallback otherwise.
    * Fewer than `w` chars → empty (the HOF's `when(n >= w, …)` arm). */
  def cdcCuts(text: UTF8String, w: Int, divisor: Int, seed: Int): ArrayData = {
    val len = text.numChars()
    if (len < w) return new GenericArrayData(Array.emptyIntArray)
    val seedBytes =
      if (seed == 0) Zero
      else (seed.toString + ":").getBytes(StandardCharsets.US_ASCII)
    val buf = new Array[Int](len - w + 1)
    var m = 0
    val bytes = text.getBytes
    val d = digest.get()
    if (bytes.length == len) {
      var i = w
      while (i <= len) {
        d.reset()
        d.update(seedBytes)
        d.update(bytes, i - w, w)
        val h = d.digest()
        val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        if (v % divisor == 0L) { buf(m) = i; m += 1 }
        i += 1
      }
    } else {
      var i = w
      while (i <= len) {
        if (hash32(text.substringSQL(i - w + 1, w), seed) % divisor == 0L) {
          buf(m) = i; m += 1
        }
        i += 1
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(buf, m))
  }

  /** MinHash signature of a shingle array: per seed i the minimum over
    * shingles of `(a_i*hash32(s) + b_i) mod 2^32`. Null shingles are
    * skipped (array_min semantics); an all-null/empty array yields null
    * minima, so callers see the same nulls as the column form. */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val a = TextFunctions.MinhashA
    val b = TextFunctions.MinhashB
    val n = shingles.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h = hash32(shingles.getUTF8String(i), 0)
        var j = 0
        while (j < k) {
          val v = (a(j) * h + b(j)) % 4294967296L
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (mins(0) == Long.MaxValue) null
    else new GenericArrayData(mins)
  }
}
