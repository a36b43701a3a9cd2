package dedup

import java.util.Locale
import java.util.regex.Pattern

/** Tokenization + shingling with reference-identical semantics.
  *
  * Reference (fuzzy_spark2.py:33,80-148, the flagship pipeline):
  *  - tokens  = re.split(r"\W", content.lower())  — UNICODE \W, empty tokens
  *    are KEPT (fuzzy_spark.py:346 drops them; we pin the flagship semantics,
  *    SURVEY.md §2.4 F1).
  *  - shingles = sliding n-grams of tokens, joined with " "; if
  *    len(tokens) < n the single whole-token-sequence shingle is emitted
  *    (fuzzy_spark2.py:111-112); if len(tokens) < min_length => no shingles
  *    (fuzzy_spark2.py:150-178).
  *  - each shingle is hashed with xxh32(utf8, seed=0) and deduped to a set
  *    (fuzzy_spark2.py:119-148).
  *
  * The GPU family instead uses character n-grams of width 24
  * (fuzzy multi gpu/minhash_multi.py:17-24); `charShingleHashes` keeps that
  * mode available.
  */
object TextNorm {

  /** Java equivalent of Python `re.split(r"\W", s, flags=re.UNICODE)`. */
  private val NonWord: Pattern = Pattern.compile("(?U)\\W")

  /** Lowercase + split on unicode non-word chars; empty tokens kept
    * (including leading/trailing), matching `re.split`. */
  def tokenize(text: String): Array[String] =
    NonWord.split(text.toLowerCase(Locale.ROOT), -1)

  /** Word n-gram shingle strings. Empty iterator if fewer than `minLength`
    * tokens; a single whole-sequence shingle if fewer than `n` tokens. */
  def wordShingles(tokens: Array[String], n: Int, minLength: Int): Iterator[String] = {
    if (tokens.length < minLength) Iterator.empty
    else if (tokens.length < n) Iterator.single(tokens.mkString(" "))
    else tokens.iterator.sliding(n).withPartial(false).map(_.mkString(" "))
  }

  /** Code-point predicate equal to Java regex `(?U)\w`
    * ([\p{Alpha}\p{gc=Mn}\p{gc=Me}\p{gc=Mc}\p{Digit}\p{gc=Pc}
    * \p{IsJoin_Control}]) — property-tested against the Pattern in
    * TextNormSpec. Lets the shingler find token boundaries without
    * allocating per-token Strings. */
  @inline private[dedup] def isWordCp(cp: Int): Boolean =
    if (cp < 128)
      (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9') || cp == '_'
    else
      Character.isAlphabetic(cp) || Character.isDigit(cp) || {
        val t = Character.getType(cp)
        t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
        t == Character.COMBINING_SPACING_MARK || t == Character.CONNECTOR_PUNCTUATION
      } || cp == 0x200C || cp == 0x200D

  @inline private def utf8Len(cp: Int): Int =
    if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4

  /** Sorted, distinct xxh32 hashes of word n-gram shingles — the per-doc
    * shingle set used for both MinHash lanes and exact-Jaccard
    * verification. Fused tokenize+shingle+hash: ONE lowercase pass, ONE
    * utf-8 encode, token boundaries tracked as byte spans, every shingle
    * hashed by streaming `token ⊕ ' '` byte ranges — bit-identical to
    * xxh32 of the " "-joined shingle String but with zero per-token /
    * per-shingle allocation (round-1 measured 23% of wall in GC at 32
    * mutator threads from the tokenizer's String churn,
    * BENCH/BASELINE.md). */
  def shingleHashes(text: String, n: Int, minLength: Int): Array[Int] = {
    val lower = text.toLowerCase(Locale.ROOT)
    val bytes = lower.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // token spans in byte offsets: split semantics of re.split((?U)\W, s)
    // — every non-word code point is a 1-separator; empty tokens kept
    var cap = math.max(8, lower.length / 4)
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var nTok = 0
    @inline def push(s: Int, e: Int): Unit = {
      if (nTok == cap) {
        cap *= 2
        starts = java.util.Arrays.copyOf(starts, cap)
        ends = java.util.Arrays.copyOf(ends, cap)
      }
      starts(nTok) = s; ends(nTok) = e; nTok += 1
    }
    var ci = 0
    var bp = 0
    var tokStart = 0
    while (ci < lower.length) {
      val cp = lower.codePointAt(ci)
      val cc = Character.charCount(cp)
      // unpaired surrogates encode as a 1-byte '?' in getBytes(UTF_8)
      val w = if (cc == 1 && Character.isSurrogate(lower.charAt(ci))) 1 else utf8Len(cp)
      if (isWordCp(cp)) bp += w
      else { push(tokStart, bp); bp += w; tokStart = bp }
      ci += cc
    }
    push(tokStart, bp)
    if (nTok < minLength) return Array.emptyIntArray
    val stream = new Hashes.Xxh32Stream(0)
    @inline def hashRange(from: Int, until: Int): Int = {
      stream.reset()
      var j = from
      while (j < until) {
        if (j > from) stream.update(' '.toByte)
        stream.update(bytes, starts(j), ends(j) - starts(j))
        j += 1
      }
      stream.digest()
    }
    if (nTok < n) return Array(hashRange(0, nTok))
    val m = nTok - n + 1
    val hs = new Array[Int](m)
    var i = 0
    while (i < m) {
      hs(i) = hashRange(i, i + n)
      i += 1
    }
    sortedDistinct(hs)
  }

  /** in-place sort + dedupe (primitive, no boxing — this is per-doc hot). */
  private[dedup] def sortedDistinct(hs: Array[Int]): Array[Int] = {
    java.util.Arrays.sort(hs)
    var k = 0
    var i = 0
    while (i < hs.length) {
      if (k == 0 || hs(k - 1) != hs(i)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    if (k == hs.length) hs else java.util.Arrays.copyOf(hs, k)
  }

  /** Character n-gram shingle hashes (GPU-family parity mode: width-24 char
    * windows, reference fuzzy multi gpu/minhash_multi.py:72-94). Lowercased
    * like the word mode; hashes are xxh32 of the raw window. */
  /** Unicode NFC normalization — the CCNet-style prep step for crawl text
    * where the same page arrives composed (é) from one mirror and
    * decomposed (e + U+0301) from another and would otherwise hash as two
    * distinct documents. NOT applied inside the dedup flagship (the
    * text-verbatim invariant, SURVEY.md §1); this is source prep, opt-in
    * before ids are assigned. Fast path: scan for any codepoint the NFC
    * quick-check could alter (≥ U+0300) and return the original string
    * untouched — ASCII/Latin-1 web text pays one branch per char, no
    * allocation. */
  def nfc(s: String): String = {
    if (s == null) return null
    var i = 0
    val n = s.length
    var ascii = true
    while (ascii && i < n) { if (s.charAt(i) >= 0x300) ascii = false; i += 1 }
    if (ascii) s
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
  }

  /** Column form of [[nfc]]. A JVM closure is the right tool (ICU-class
    * normalization has no Catalyst spelling); narrow projection, no
    * shuffle. */
  def nfcCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val fn = org.apache.spark.sql.functions.udf((s: String) => nfc(s))
    fn(c)
  }

  def charShingleHashes(text: String, width: Int, minLength: Int): Array[Int] = {
    val s = text.toLowerCase(Locale.ROOT)
    if (s.length < minLength) return Array.emptyIntArray
    if (s.length <= width) return Array(Hashes.xxh32Str(s))
    val m = s.length - width + 1
    val hs = new Array[Int](m)
    var i = 0
    while (i < m) {
      hs(i) = Hashes.xxh32Str(s.substring(i, i + width))
      i += 1
    }
    sortedDistinct(hs)
  }
}
