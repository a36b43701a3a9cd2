package dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators a large-scale training-data pipeline needs on
  * top of dedup: token counting, quality scoring, language ID and document
  * fingerprinting. All pure-Catalyst where possible (codegen'd, pushdown
  * friendly); the langid/fingerprint hot loops are JVM closures.
  */
object TextAnalysis {

  // -------------------------------------------------------- token counts
  /** Whitespace token count (0 for blank). Pure Catalyst. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: runs of letters, runs of digits, and runs of
    * other non-space chars each count as one token (a cheap, deterministic
    * stand-in for a real tokenizer's pre-tokenization). */
  private val BpeLike = java.util.regex.Pattern.compile("(?U)\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]")
  val tokenCountBpe = udf { (text: String) =>
    if (text == null) 0
    else {
      val m = BpeLike.matcher(text)
      var n = 0
      while (m.find()) n += 1
      n
    }
  }

  // ------------------------------------------------------------- quality
  /** Integer quality features (oracle-safe: no floats). */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars2", length(t).cast("int"))
      .withColumn("n_tokens", tokenCountWs(t))
      .withColumn("n_distinct_tokens",
        when(length(trim(t)) === 0, lit(0))
          .otherwise(size(array_distinct(split(trim(t), "\\s+")))))
      .withColumn("n_digits", length(t) - length(regexp_replace(t, "[0-9]", "")))
      .withColumn("is_short", (tokenCountWs(t) < lit(5)).cast("int"))
  }

  /** Gopher-style document quality gate (Rae et al. 2021 §A1.1 rules, the
    * standard pre-dedup filter of webtext pipelines; C4 uses the same
    * family). Pure Catalyst — codegen'd, pushdown-friendly — and every
    * ratio threshold is evaluated as an exact integer cross-multiplication
    * (`n_alpha·10 ≥ n_tokens·8` instead of `n_alpha/n_tokens ≥ 0.8`), so
    * an external SQL engine replicates the gate bit-for-bit (the
    * q_quality_filter oracle). Thresholds are per-mille for exactness.
    *
    * Rules (each also emitted as its own boolean column so removal
    * accounting can attribute drops to rules):
    *   ok_len         minTokens ≤ n_tokens ≤ maxTokens
    *   ok_word_len    minMeanWordLen ≤ mean token length ≤ maxMeanWordLen
    *                  (via total non-space chars vs token count)
    *   ok_alpha       ≥ minAlphaWordPerMille of tokens contain a letter
    *   ok_digits      ≤ maxDigitPerMille of chars are digits
    *   ok_repetition  ≥ minDistinctPerMille of tokens are distinct
    */
  final case class QualityConfig(
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minMeanWordLen: Int = 3,
      maxMeanWordLen: Int = 10,
      minAlphaWordPerMille: Int = 800,
      maxDigitPerMille: Int = 200,
      minDistinctPerMille: Int = 300)

  /** df + rule booleans + `keep`. One narrow projection, no shuffle. */
  def qualityFilter(df: DataFrame, textCol: String,
      q: QualityConfig = QualityConfig()): DataFrame = {
    val t = col(textCol)
    val empty = length(trim(t)) === 0
    val toks = split(trim(t), "\\s+")
    val nTok = when(empty, lit(0)).otherwise(size(toks)).cast("long")
    val nDistinct = when(empty, lit(0))
      .otherwise(size(array_distinct(toks))).cast("long")
    val nAlpha = when(empty, lit(0))
      .otherwise(size(filter(toks, x => x.rlike("\\p{L}")))).cast("long")
    val nChars = length(t).cast("long")
    val nNonSpace = length(regexp_replace(t, "\\s", "")).cast("long")
    val nDigits = (nChars - length(regexp_replace(t, "[0-9]", ""))).cast("long")
    df.withColumn("n_tokens", nTok)
      .withColumn("ok_len",
        nTok >= q.minTokens && nTok <= q.maxTokens)
      .withColumn("ok_word_len",
        nTok > 0 && nNonSpace >= nTok * q.minMeanWordLen &&
          nNonSpace <= nTok * q.maxMeanWordLen)
      .withColumn("ok_alpha", nAlpha * 1000L >= nTok * q.minAlphaWordPerMille)
      .withColumn("ok_digits", nDigits * 1000L <= nChars * q.maxDigitPerMille)
      .withColumn("ok_repetition",
        nDistinct * 1000L >= nTok * q.minDistinctPerMille)
      .withColumn("keep",
        col("ok_len") && col("ok_word_len") && col("ok_alpha") &&
          col("ok_digits") && col("ok_repetition"))
  }

  // ---------------------------------------------------------- repetition
  /** Gopher repetition signals (Rae et al. 2021 Table A1 rows 4–12): the
    * within-doc word-n-gram duplication numerators, one zero-shuffle typed
    * pass per doc, integers only (the fraction is numerator / n_word_chars,
    * thresholded per-mille in [[repetitionFilter]] — no float boundary).
    *
    *  - `top_{2,3,4}_chars`  = count(most frequent n-gram) × its char
    *    length excluding separators (the overlap-ignoring convention the
    *    public Gopher reimplementations use). Tie-break: count desc, gram
    *    chars desc, gram string asc — deterministic and replicable in any
    *    SQL engine with binary collation.
    *  - `dup_{5..10}_chars` = chars of words covered by ANY occurrence of
    *    an n-gram that occurs ≥2× in the doc (interval union over word
    *    indexes — a word counts once however many duplicated grams span it).
    *
    * Gram keys are exact space-joined strings (words contain no whitespace
    * by construction), not hashes — oracle-exact by design; the per-doc
    * HashMap is bounded by doc length, never corpus size. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val words =
            if (text == null) Array.empty[String]
            else text.trim.split("\\s+").filter(_.nonEmpty)
          var nChars = 0L
          var wi = 0
          while (wi < words.length) { nChars += words(wi).length; wi += 1 }
          def gramKeys(n: Int): Array[String] = {
            if (words.length < n) return Array.empty
            val keys = new Array[String](words.length - n + 1)
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i + n <= words.length) {
              sb.setLength(0)
              var k = 0
              while (k < n) { if (k > 0) sb.append(' '); sb.append(words(i + k)); k += 1 }
              keys(i) = sb.toString
              i += 1
            }
            keys
          }
          def counts(keys: Array[String]): java.util.HashMap[String, Integer] = {
            val m = new java.util.HashMap[String, Integer]()
            var i = 0
            while (i < keys.length) {
              m.merge(keys(i), Integer.valueOf(1), (a, b) => Integer.valueOf(a + b)); i += 1
            }
            m
          }
          def topChars(n: Int): Long = {
            val keys = gramKeys(n)
            if (keys.isEmpty) return 0L
            val m = counts(keys)
            var best: String = null
            var bestC = 0
            m.forEach { (g, c) =>
              if (best == null) { best = g; bestC = c }
              else {
                val gc = g.length - (n - 1)
                val bc = best.length - (n - 1)
                if (c > bestC || (c == bestC && (gc > bc || (gc == bc && g.compareTo(best) < 0)))) {
                  best = g; bestC = c
                }
              }
            }
            bestC.toLong * (best.length - (n - 1))
          }
          def dupChars(n: Int): Long = {
            val keys = gramKeys(n)
            if (keys.isEmpty) return 0L
            val m = counts(keys)
            val covered = new Array[Boolean](words.length)
            var i = 0
            while (i < keys.length) {
              if (m.get(keys(i)) > 1) {
                var k = 0
                while (k < n) { covered(i + k) = true; k += 1 }
              }
              i += 1
            }
            var s = 0L
            var j = 0
            while (j < words.length) { if (covered(j)) s += words(j).length; j += 1 }
            s
          }
          (id, nChars, topChars(2), topChars(3), topChars(4),
            dupChars(5), dupChars(6), dupChars(7), dupChars(8), dupChars(9), dupChars(10))
        }
      }
      .toDF(idCol, "n_word_chars", "top_2_chars", "top_3_chars", "top_4_chars",
        "dup_5_chars", "dup_6_chars", "dup_7_chars", "dup_8_chars", "dup_9_chars",
        "dup_10_chars")
  }

  /** Gopher's published repetition thresholds (Table A1: top-2/3/4-gram
    * char fraction > 0.20/0.18/0.16 removes; duplicated 5..10-gram char
    * fraction > 0.15/0.14/0.13/0.12/0.11/0.10 removes), applied as
    * integer per-mille predicates over [[repetitionStats]]. Returns the
    * stats plus per-rule booleans and `keep`. */
  def repetitionFilter(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val limits = Seq(
      "top_2_chars" -> 200L, "top_3_chars" -> 180L, "top_4_chars" -> 160L,
      "dup_5_chars" -> 150L, "dup_6_chars" -> 140L, "dup_7_chars" -> 130L,
      "dup_8_chars" -> 120L, "dup_9_chars" -> 110L, "dup_10_chars" -> 100L)
    val withRules = limits.foldLeft(repetitionStats(docs, idCol, textCol)) {
      case (df, (c, perMille)) =>
        df.withColumn(s"ok_$c".stripSuffix("_chars"),
          col(c) * 1000L <= col("n_word_chars") * perMille)
    }
    withRules.withColumn("keep",
      limits.map { case (c, _) => col(s"ok_$c".stripSuffix("_chars")) }
        .reduce(_ && _))
  }

  // ---------------------------------------------------------- vocabulary
  /** Corpus vocabulary: the k most frequent whitespace tokens with counts,
    * ties broken by word ascending (deterministic). The count shuffle is
    * partial-aggregated (map-side combine collapses each task's repeats of
    * a hot word to one row) and the global top-k plans as
    * TakeOrderedAndProject — per-partition heaps of k, never a full sort.
    * Corpus-frequency tables feed tokenizer training and stopword/quality
    * heuristics downstream. */
  def topWords(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(col(textCol), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(k)

  // ---------------------------------------------------------- bm25 search
  /** Okapi BM25 top-k corpus search for a bag of query terms — the
    * search-based curation primitive (find the documents most about X:
    * targeted decontamination, topic audits, eval-leak hunts). INTEGER
    * fixed-point end to end (the [[LinkGraph.pageRankInt]] / char-LM
    * discipline), so a SQL oracle replays every score bit-exactly:
    *
    *   - idf₂(t) = ⌊log₂(N+1)⌋ − ⌊log₂(df_t+1)⌋ — the log-damped rarity
    *     weight computed EXACTLY on integers (bit length), no
    *     transcendental whose last ulp could differ across engines;
    *   - per-term score in micro-units, k1/b in milli-units
    *     (defaults 1200/750 = the standard 1.2/0.75):
    *       norm  = 1000 − b + (b·dl·1000) DIV avgdlMilli
    *       denom = tf·1000 + (k1·norm) DIV 1000
    *       score = Σ_t  idf₂·tf·(k1+1000)·10⁶ DIV denom
    *     — the real BM25 shape (tf saturation + doc-length
    *     normalization + log-damped idf), all positive-integer DIVs,
    *     Long-safe to dl ≈ 10⁵ per doc.
    *
    * Scale shape: one partial-agg stats pass (N, Σdl, per-term df — the
    * driver holds O(|terms|) numbers), then one ZERO-SHUFFLE scoring
    * projection and a TakeOrderedAndProject top-k (per-partition heaps,
    * no global sort). Tokens = whitespace split, the [[topWords]]
    * convention. Ties break by ascending id — reruns byte-identical. */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1Milli: Long = 1200L,
      bMilli: Long = 750L): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[\\w\\p{L}]+")),
      "terms must be non-empty word tokens")
    require(k > 0 && k1Milli > 0 && bMilli >= 0 && bMilli <= 1000)
    var d = docs
      .withColumn("__toks", filter(split(col(textCol), "\\s+"), t => t =!= lit("")))
      .withColumn("dl", size(col("__toks")).cast("long"))
    terms.indices.foreach { i =>
      d = d.withColumn(s"__tf_$i",
        size(filter(col("__toks"), x => x === lit(terms(i)))).cast("long"))
    }
    val statCols = Seq(count(lit(1)).as("n"), sum(col("dl")).as("tot")) ++
      terms.indices.map(i => sum((col(s"__tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = d.agg(statCols.head, statCols.tail: _*).collect()(0)
    val n = stats.getLong(0)
    if (n == 0)
      return d.withColumn("score_micro", lit(0L))
        .select(col(idCol), col("dl"), col("score_micro")).limit(0)
    val tot = stats.getLong(1)
    val avgdlMilli = math.max(1L, tot * 1000L / n)
    def bitLen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val scoreSql = terms.indices.map { i =>
      val df = stats.getLong(2 + i)
      val idf2 = bitLen(n + 1) - bitLen(df + 1)
      s"(${idf2}L * __tf_$i * ${k1Milli + 1000}L * 1000000L) DIV " +
        s"(__tf_$i * 1000L + (${k1Milli}L * ((${1000 - bMilli}L) + " +
        s"(${bMilli}L * dl * 1000L) DIV ${avgdlMilli}L)) DIV 1000L)"
    }.mkString(" + ")
    d.withColumn("score_micro", expr(scoreSql))
      .orderBy(col("score_micro").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("dl"), col("score_micro"))
  }

  // ----------------------------------------------------------- blocklist
  /** Occurrences (not distinct) of blocklisted tokens among the
    * whitespace tokens of `text` — a pure-Catalyst higher-order-function
    * projection (codegen'd, zero shuffle; the word list is a literal array
    * in the plan, fine up to ~10⁴ words — broadcast a Set inside a typed
    * map beyond that). */
  def blockedTokenCount(text: Column, words: Seq[String]): Column =
    size(filter(split(text, "\\s+"),
      t => array_contains(lit(words.toArray), t))).cast("long")

  /** Aho–Corasick multi-pattern automaton (the classic goto/fail trie
    * with merged output links): ONE pass over a document counts every
    * occurrence of every phrase — including overlapping matches —
    * in O(chars + matches), independent of phrase-list size. This is the
    * 100-TB shape for substring blocklists: per-phrase `contains` scans
    * cost O(phrases × chars) per doc (400 C4-style phrases = 400 scans),
    * and regex alternation compiles to the same automaton anyway but
    * rebuilds per task. Built once on the driver, broadcast as plain
    * arrays (int matrix transitions for ASCII, map fallback above).
    * Memory is ~512 B per state (state count ≈ total phrase chars): a
    * 40k-phrase list is a ~0.4 GB broadcast — beyond that, swap the
    * ASCII matrix for the map-only representation (same interface). */
  final class PhraseAutomaton private (
      asciiNext: Array[Array[Int]], // node -> 128-wide next (-1 = none)
      wideNext: Array[Map[Char, Int]], // non-ASCII edges
      fail: Array[Int],
      outCounts: Array[Int], // phrases ending at node (incl. via fail links)
      val nPhrases: Int) extends Serializable {

    private def step(state: Int, c: Char): Int = {
      var s = state
      while (s >= 0) {
        val nxt =
          if (c < 128) asciiNext(s)(c)
          else wideNext(s).getOrElse(c, -1)
        if (nxt >= 0) return nxt
        if (s == 0) return 0
        s = fail(s)
      }
      0
    }

    /** Total phrase occurrences in `text` (overlaps counted — standard
      * automaton semantics: one hit per (phrase, end-position)). */
    def countHits(text: String): Long = {
      if (text == null) return 0L
      var s = 0
      var hits = 0L
      var i = 0
      while (i < text.length) {
        s = step(s, text.charAt(i))
        hits += outCounts(s)
        i += 1
      }
      hits
    }
  }

  object PhraseAutomaton {
    def apply(phrases: Seq[String]): PhraseAutomaton = {
      require(phrases.nonEmpty && phrases.forall(p => p != null && p.nonEmpty),
        "phrases must be non-empty strings")
      val ascii = scala.collection.mutable.ArrayBuffer(Array.fill(128)(-1))
      val wide = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.HashMap.empty[Char, Int])
      val ends = scala.collection.mutable.ArrayBuffer(0) // phrases ending here
      def child(s: Int, c: Char): Int =
        if (c < 128) ascii(s)(c) else wide(s).getOrElse(c, -1)
      def addChild(s: Int, c: Char): Int = {
        val n = ascii.length
        ascii += Array.fill(128)(-1)
        wide += scala.collection.mutable.HashMap.empty[Char, Int]
        ends += 0
        if (c < 128) ascii(s)(c) = n else wide(s)(c) = n
        n
      }
      phrases.foreach { p =>
        var s = 0
        p.foreach { c =>
          val nxt = child(s, c)
          s = if (nxt >= 0) nxt else addChild(s, c)
        }
        ends(s) += 1
      }
      // BFS fail links; merge output counts down the fail chain so a
      // single state lookup yields every phrase ending at that position
      val n = ascii.length
      val fail = Array.fill(n)(0)
      val out = ends.toArray
      val queue = scala.collection.mutable.Queue.empty[Int]
      def edges(s: Int): Iterator[(Char, Int)] =
        ascii(s).iterator.zipWithIndex.collect { case (t, c) if t >= 0 => (c.toChar, t) } ++
          wide(s).iterator
      edges(0).foreach { case (_, t) => queue += t } // depth-1: fail = root
      while (queue.nonEmpty) {
        val s = queue.dequeue()
        out(s) += out(fail(s))
        edges(s).foreach { case (c, t) =>
          var f = fail(s)
          var nxt = child(f, c)
          while (nxt < 0 && f != 0) { f = fail(f); nxt = child(f, c) }
          fail(t) = if (nxt >= 0 && nxt != t) nxt else 0
          queue += t
        }
      }
      new PhraseAutomaton(ascii.toArray, wide.map(_.toMap).toArray, fail, out,
        phrases.length)
    }
  }

  /** Per-doc phrase-blocklist hits (C4's real gate is PHRASE-based, not
    * token-based): total occurrences of any blocklisted phrase, counted
    * by one broadcast [[PhraseAutomaton]] pass per document — zero
    * shuffle, cost independent of the phrase-list size. Overlapping
    * occurrences count (one per end position), so a SQL oracle can
    * replay the number by probing every start offset. */
  def phraseHits(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrases: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(PhraseAutomaton(phrases))
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ac = bc.value
        it.map { case (id, t) => (id, ac.countHits(t)) }
      }
      .toDF("id", "n_hits")
  }

  /** C4-style wordlist gate, fraction-thresholded: keep a doc iff
    * blocklisted tokens make up at most `maxPerMille`/1000 of its tokens
    * (integer-exact predicate — no float boundary; C4 itself drops on ANY
    * hit, which is maxPerMille = 0). Returns every doc with
    * (n_tokens, n_blocked, keep) so callers can audit the gate. */
  def blocklistFilter(
      docs: DataFrame,
      textCol: String,
      words: Seq[String],
      maxPerMille: Int): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col(textCol), "\\s+")).cast("long"))
      .withColumn("n_blocked", blockedTokenCount(col(textCol), words))
      .withColumn("keep",
        col("n_blocked") * 1000L <= col("n_tokens") * maxPerMille.toLong)

  // ------------------------------------------------------- rare tokens
  /** Corpus-relative out-of-vocabulary statistics — the integer-exact core
    * of a CCNet-style LM-quality signal (a high rare-token rate flags
    * gibberish, boilerplate mangling, OCR noise; the float-perplexity
    * variant needs an external LM and has no cross-engine-exact oracle).
    *
    * Vocabulary = the at-most-`vocabK` most frequent tokens with corpus
    * count ≥ `minCount` (ties broken count desc, token asc — the topWords
    * rule); a token occurrence is RARE iff its token is not in the
    * vocabulary. Two passes:
    *   1. token counts (one narrow partial-agg shuffle) → vocabulary to
    *      the driver — bounded by vocabK BY CONSTRUCTION (at 10¹⁴ tokens
    *      an uncapped count≥k vocabulary would not be broadcastable);
    *   2. zero-shuffle scan probing a broadcast sorted xxh64 array per
    *      token (the Decontaminate pattern — no grams×corpus join).
    * Returns (idCol, n_tokens, n_rare) for every doc; n_tokens counts
    * nonempty whitespace tokens. */
  def rareTokenStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long,
      vocabK: Int = 1 << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = docs.select(explode(split(col(textCol), "\\s+")).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .orderBy(col("n").desc, col("t").asc)
      .limit(vocabK)
      .select(col("t")).as[String].collect()
      .map(Hashes.xxh64Str(_)).sorted
    val bc = spark.sparkContext.broadcast(vocab)
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val arr = bc.value
        it.map { case (id, text) =>
          var nTok = 0L
          var nRare = 0L
          if (text != null) {
            val ts = text.split("\\s+")
            var i = 0
            while (i < ts.length) {
              if (ts(i).nonEmpty) {
                nTok += 1
                if (java.util.Arrays.binarySearch(arr, Hashes.xxh64Str(ts(i))) < 0)
                  nRare += 1
              }
              i += 1
            }
          }
          (id, nTok, nRare)
        }
      }
      .toDF(idCol, "n_tokens", "n_rare")
  }

  // ------------------------------------------------------- char-LM score
  /** CCNet-style character-LM document scoring (Wenzek et al. 2020 train a
    * char-level KenLM and rank docs by perplexity; here the LM is a
    * corpus-trained bigram model — self-supervised, no external model
    * file, which is what this sandbox can honestly host).
    *
    * Two passes, mirroring [[rareTokenStats]]:
    *   1. corpus bigram counts (per-partition HashMap pre-combine, then
    *      one narrow partial-agg shuffle), top-`vocabK` collected to the
    *      driver — bounded BY CONSTRUCTION (full CJK bigram space would
    *      not broadcast; ASCII/Latin corpora fit entirely);
    *   2. zero-shuffle scoring scan probing a broadcast sorted-hash
    *      array (binary search per bigram).
    *
    * Returns one row per doc: `n_bigrams` and `familiarity` (sum of the
    * corpus counts of each bigram occurrence — integer-exact, the
    * DuckDB-comparable projection) plus `ppl`, the add-one-smoothed
    * bigram perplexity exp(−Σ ln p(b) / n) with
    * p(b) = (count(b)+1)/(T+V+1) — the CCNet ranking signal (floats, so
    * suite-verified rather than oracle-hashed). Bigrams are consecutive
    * UTF-16 unit pairs — identical to code points off the astral plane.
    * Docs shorter than 2 chars (or null) score n_bigrams=0, familiarity=0,
    * ppl=null. */
  def charLmStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabK: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(col(textCol)).as[String]
      .mapPartitions { it =>
        val h = new java.util.HashMap[String, Long]()
        it.foreach { t =>
          if (t != null) {
            var i = 0
            while (i + 1 < t.length) {
              h.merge(t.substring(i, i + 2), 1L, (a, b) => a + b); i += 1
            }
          }
        }
        scala.jdk.CollectionConverters.MapHasAsScala(h).asScala.iterator
      }
      .toDF("b", "n")
      .groupBy(col("b")).agg(sum(col("n")).as("n"))
      .cache()
    val total = counts.agg(coalesce(sum(col("n")), lit(0L))).as[Long].head()
    val top = counts.orderBy(col("n").desc, col("b").asc).limit(vocabK)
      .as[(String, Long)].collect()
    counts.unpersist()
    val sortedPairs = top.map { case (b, n) => (Hashes.xxh64Str(b), n) }.sortBy(_._1)
    val hs = sortedPairs.map(_._1)
    val cs = sortedPairs.map(_._2)
    val vocabV = hs.length.toLong
    val bcH = spark.sparkContext.broadcast(hs)
    val bcC = spark.sparkContext.broadcast(cs)
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val harr = bcH.value
        val carr = bcC.value
        val denom = (total + vocabV + 1L).toDouble
        it.map { case (id, text) =>
          var nBg = 0L
          var fam = 0L
          var logSum = 0.0
          if (text != null) {
            var i = 0
            while (i + 1 < text.length) {
              val j = java.util.Arrays.binarySearch(harr, Hashes.xxh64Str(text.substring(i, i + 2)))
              val c = if (j >= 0) carr(j) else 0L
              nBg += 1
              fam += c
              logSum += math.log((c + 1L).toDouble / denom)
              i += 1
            }
          }
          (id, nBg, fam,
            if (nBg == 0L) None else Some(math.exp(-logSum / nBg)))
        }
      }
      .toDF(idCol, "n_bigrams", "familiarity", "ppl")
  }

  /** CCNet head/middle/tail bucketing: per-language perplexity terciles
    * over [[charLmStats]] output (CCNet §4.3 keeps "head"+"middle" for
    * training). Terciles come from one `percentile_approx` aggregate per
    * language (tiny result, broadcast-joined back — no second shuffle of
    * the corpus); null lang falls in an explicit `__null__` group rather
    * than silently dropping (round-2 ADVICE rule). Zero-bigram docs
    * (ppl null) land in "tail". */
  def charLmBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      vocabK: Int = 1 << 16): DataFrame = {
    val stats = charLmStats(docs, idCol, textCol, vocabK)
    val withLang = stats.join(
      docs.select(col(idCol).cast("long").as(idCol),
        coalesce(col(langCol), lit("__null__")).as("__lang__")),
      idCol)
    val cuts = withLang.groupBy(col("__lang__"))
      .agg(percentile_approx(col("ppl"), array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000))
        .as("cuts"))
    withLang.join(broadcast(cuts), "__lang__")
      .withColumn("bucket",
        when(col("ppl").isNull, lit("tail"))
          .when(col("ppl") <= element_at(col("cuts"), 1), lit("head"))
          .when(col("ppl") <= element_at(col("cuts"), 2), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col("__lang__").as(langCol), col("n_bigrams"),
        col("familiarity"), col("ppl"), col("bucket"))
  }

  /** CCNet head/middle/tail bucketing with EXACT per-language terciles —
    * the deterministic twin of [[charLmBuckets]] (whose cuts come from
    * `percentile_approx`, so its boundary docs are sketch-dependent and
    * cannot be oracle-gated). Fluency score = familiarity / n_bigrams
    * (mean corpus-frequency of the doc's bigrams — a single IEEE division
    * of two exact integers, so the ORDER is replicable bit-for-bit in any
    * engine; higher = more fluent = lower perplexity = "head" in CCNet
    * §4.3's keep set). Bucket = ⌊rank·3/n⌋ per language, which is exactly
    * SQL `ntile(3)` (earlier buckets take the remainder).
    *
    * Scale shape: NO per-language window — English is half a web corpus,
    * and `row_number() over (partition by lang)` would collapse it to one
    * task. Instead the global (lang, score desc, id) order is ranked with
    * the same range-partition + broadcast-offset pass as [[Ids.orderedIds]]
    * (O(partitions) rows to the driver), and per-language ranks fall out
    * by subtracting each language's first global rank (an O(languages)
    * broadcast join). Bigram-less docs (score 0) sort last → "tail". */
  def fluencyBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      vocabK: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = charLmStats(docs, idCol, textCol, vocabK)
      .join(docs.select(col(idCol).cast("long").as(idCol),
        coalesce(col(langCol), lit("__null__")).as("__lang__")), idCol)
      .withColumn("score",
        when(col("n_bigrams") > 0,
          col("familiarity").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)))
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    // localCheckpoint pins the sampled range boundaries (same rationale as
    // Ids.orderedIds): the count pass and the emit pass must see the SAME
    // partitioning or the broadcast offsets point at the wrong partitions.
    val sorted = scored
      .select(col(idCol).cast("long").as("id"), col("__lang__"), col("score"))
      .repartitionByRange(p, col("__lang__").asc, col("score").desc, col("id").asc)
      .sortWithinPartitions(col("__lang__").asc, col("score").desc, col("id").asc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val counts = sorted.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = new Array[Long](counts.map(_._1).maxOption.getOrElse(-1) + 2)
    var acc = 0L
    counts.foreach { case (pid, n) => offsets(pid) = acc; acc += n }
    val bc = spark.sparkContext.broadcast(offsets)
    val ranked = sorted.select(col("id"), col("__lang__"), col("score"), col("pid"))
      .as[(Long, String, Double, Int)]
      .mapPartitions { it =>
        var i = 0L
        it.map { case (id, lang, score, pid) =>
          val r = (id, lang, score, bc.value(pid) + i)
          i += 1
          r
        }
      }
      .toDF("id", "__lang__", "score", "g")
    val langAgg = ranked.groupBy(col("__lang__"))
      .agg(min(col("g")).as("g0"), count(lit(1)).as("n"))
    ranked.join(broadcast(langAgg), "__lang__")
      .withColumn("lang_rank", col("g") - col("g0"))
      .withColumn("bucket",
        when(col("score") === 0.0, lit("tail"))
          .when(col("lang_rank") * 3 < col("n"), lit("head"))
          .when(col("lang_rank") * 3 < col("n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("id").as(idCol), col("__lang__").as(langCol),
        col("lang_rank"), col("bucket"))
  }

  // ------------------------------------------------------ script profile
  /** Per-doc Unicode-script histogram over LETTER code points — the
    * mixed-script signal webtext curation uses (Latin text stuffed with
    * Cyrillic homoglyphs is a spam marker; script mix also routes docs to
    * script-appropriate tokenizers). Counts five buckets: latin,
    * cyrillic, cjk (Han+Hiragana+Katakana+Hangul), arabic, other-letter;
    * non-letters (digits, punctuation, space) are not counted. Code-point
    * iteration, so supplementary-plane letters count once. Zero-shuffle
    * typed projection like the other per-doc scanners. */
  def scriptCounts(text: String): (Long, Long, Long, Long, Long) = {
    if (text == null) return (0L, 0L, 0L, 0L, 0L)
    var latin = 0L; var cyr = 0L; var cjk = 0L; var ar = 0L; var other = 0L
    var i = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      if (Character.isLetter(cp)) {
        import Character.UnicodeScript
        UnicodeScript.of(cp) match {
          case UnicodeScript.LATIN => latin += 1
          case UnicodeScript.CYRILLIC => cyr += 1
          case UnicodeScript.HAN | UnicodeScript.HIRAGANA |
               UnicodeScript.KATAKANA | UnicodeScript.HANGUL => cjk += 1
          case UnicodeScript.ARABIC => ar += 1
          case _ => other += 1
        }
      }
      i += Character.charCount(cp)
    }
    (latin, cyr, cjk, ar, other)
  }

  /** (id, n_latin, n_cyrillic, n_cjk, n_arabic, n_other_letter) table. */
  def scriptStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val (l, c, j, a, o) = scriptCounts(t)
        (id, l, c, j, a, o)
      })
      .toDF("id", "n_latin", "n_cyrillic", "n_cjk", "n_arabic", "n_other_letter")
  }

  // -------------------------------------------------------------- langid
  /** Tiny per-language stopword lists (public common words). A real
    * pipeline plugs a fastText-style model here; the Spark plumbing —
    * per-partition scoring, no shuffle — is the load-bearing part. */
  private val StopWords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"),
    "es" -> Set("el", "la", "los", "y", "es", "un", "una", "de", "que", "por"),
    "hi" -> Set("और", "है", "का", "की", "के", "में", "यह", "से", "को", "पर"),
    "zh" -> Set("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"))

  /** n-gram/stopword-heuristic language ID: argmax of stopword hit counts
    * (ties broken by language code; "und" when nothing matches). */
  val langIdUdf = udf { (text: String) =>
    if (text == null || text.isEmpty) "und"
    else {
      val toks = TextNorm.tokenize(text).iterator.filter(_.nonEmpty).take(512).toArray
      val chars = text.iterator.take(512).map(_.toString).toSet
      var best = "und"
      var bestScore = 0
      StopWords.toSeq.sortBy(_._1).foreach { case (lang, words) =>
        val score =
          if (lang == "zh") words.count(chars.contains)
          else toks.count(words.contains)
        if (score > bestScore) { best = lang; bestScore = score }
      }
      best
    }
  }

  // --------------------------------------------------------- fingerprint
  /** Polynomial rolling-hash document fingerprint (base 31, mod 2^31−1,
    * over the characters) — pure Catalyst, codegen'd, and replicable in
    * plain SQL (the oracle recomputes it with list_reduce). Empty chars
    * from the split are dropped on both sides. */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(filter(split(text, ""), c => c =!= lit("")), c => ascii(c).cast("long")),
      lit(0L), (acc, x) => (acc * 31L + x) % 2147483647L)

  /** 64-bit document fingerprint: xor-fold of the doc's winnowing anchors
    * (rolling-hash based, robust to small local edits — unlike md5; near
    * duplicates often share it, exact duplicates always do). Pinned in the
    * suite; not SQL-replicable, so the driver query uses
    * `rollingFingerprint` instead. */
  val fingerprintUdf = udf { (text: String) =>
    if (text == null || text.isEmpty) 0L
    else {
      val as = SuffixDedup.anchors(text, math.min(100, math.max(SuffixDedup.KGram, text.length)))
      if (as.isEmpty) Hashes.xxh64Str(text)
      else {
        var acc = 0L
        var i = 0
        while (i < as.length) { acc ^= as(i); i += 1 }
        acc
      }
    }
  }

  // ------------------------------------------------------ n-gram novelty
  /** CROSS-corpus n-gram novelty: per document, how many of its distinct
    * n-grams appear in at least one OTHER document — the corpus-level
    * complement of [[repetitionStats]] (which is within-doc). High shared
    * fraction flags boilerplate/template docs that survive doc-level dedup
    * because no single other doc is similar enough (the "death by a
    * thousand quotes" shape); the per-mille novelty is the integer-exact
    * keep signal. Cf. the duplicated-n-gram corpus measures of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better").
    *
    * Input: a precomputed DISTINCT n-gram hash-set column (the engine's
    * native SSJoin-style representation — e.g. sorted-distinct xxh64 of
    * word shingles). Counts are hash-invariant absent collisions (64-bit:
    * ~1e-13 at corpus scale), so a raw-text SQL oracle can replay them.
    *
    * Scale shape (10¹¹ docs): explode to (id, gram) — ~avg-doc-len rows
    * per doc, the same width the SSJoin family already shuffles; ONE
    * partial-agg groupBy(gram) for document frequency (a gram in 10⁹ docs
    * pre-combines map-side to one row per task); the join back is a plain
    * equi-join on gram where the build row is 12 bytes — AQE handles the
    * hot-gram skew, nothing materializes a per-key list. Output is one
    * row per doc. */
  def ngramNovelty(df: DataFrame, idCol: String, setCol: String): DataFrame = {
    val grams = df.select(col(idCol).cast("long").as("id"),
        explode(col(setCol)).as("gram"))
    val gramDf = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df")) // input sets are distinct => df = doc count
    grams.join(gramDf, "gram")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty_per_mille",
        expr("(1000 * (n_grams - n_shared)) DIV n_grams"))
      .select(col("id"), col("n_grams"), col("n_shared"),
        col("novelty_per_mille"))
  }

  /** Cross-group shared-vocabulary matrix: for every pair of groups
    * (languages, sources, splits), how many DISTINCT n-grams they share —
    * the corpus-level contamination/template audit that generalizes
    * pairwise decontamination ("which sources leak into which" before
    * choosing what to decontaminate against). Cardinalities are
    * hash-invariant, so the engine runs on hashed gram sets while any SQL
    * oracle replays on raw strings (the q_novelty argument).
    *
    * Scale shape: distinct (gram, group) is a partial-aggregating
    * groupBy (a corpus-hot gram collapses map-side to ≤1 row per group
    * per task); the self-join on gram fans out ≤ #groups per side
    * (bounded by construction, e.g. ~10² language pairs), and the final
    * count partial-aggregates on a ≤ #groups² key space. Never all-pairs
    * in docs. */
  def sharedGramMatrix(df: DataFrame, groupCol: String, setCol: String): DataFrame = {
    val gl = df.select(col(groupCol).as("g"), explode(col(setCol)).as("gram"))
      .distinct()
    gl.select(col("g").as("group_a"), col("gram"))
      .join(gl.select(col("g").as("group_b"), col("gram")), "gram")
      .where(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }
}
