package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import dedup._

/** Driver contract — one query per implemented operator family from
  * SURVEY.md §2, over the driver-provided tables at
  * /root/testdata/sf&lt;N&gt;/(documents|embeddings).parquet.
  *
  * Round-2 design rule: EVERY query has a DuckDB oracle (round 1 left 7
  * queries `no_oracle` — invisible to the driver's hard signal, VERDICT
  * next-round #1). Non-SQL-expressible operators (MinHash/SimHash
  * signatures, winnowing anchors, sign-LSH buckets) are projected onto
  * SQL-checkable ground truth instead:
  *
  *   - q_suffix_assign runs with the provable-recall topology (salt 1,
  *     all-pairs buckets) so its cluster assignment EQUALS the exact
  *     "shares a ≥120-char run" graph, which DuckDB recomputes from
  *     scratch (120-gram self-join + recursive-CTE connected components);
  *   - q_simhash_assign emits a per-doc equality check of the banded+
  *     salted+verified pipeline against an in-Spark brute-force
  *     all-pairs hamming oracle (equality is *provable* by pigeonhole
  *     under the all-pairs topology, so this verifies banding+verify
  *     correctness, not a tautology), over an input with PLANTED
  *     byte-identical copies whose expected co-assignment DuckDB derives
  *     from ids alone — falsifiable even against a bug common to both
  *     in-Spark CC paths;
  *   - q_fuzzy_assign / q_fuzzy_kept oracles use recursive-CTE connected
  *     components instead of round-1's union-of-cliques assumption
  *     (VERDICT "What's wrong" #9);
  *   - q_fingerprint is the rolling-hash document fingerprint (polynomial
  *     mod 2^31−1 — SQL-replicable); the winnowing fingerprint powering
  *     the suffix stage is pinned in the ScalaTest suite instead;
  *   - q_ann_ivf / q_semdedup use the `label` column as the coarse IVF /
  *     cluster cell (the embeddings table has no cosine≥0.95 structure —
  *     measured: max pairwise cosine ≈ 0.5 — so cell-scoped semantics are
  *     the non-vacuous, oracle-exact projection; KMeans cell assignment
  *     itself is seeded-iterative and not SQL-derivable, covered by
  *     SemDedupSpec);
  *   - q_embed_dedup_lsh runs the multi-probe LSH scale path at 0.95 over
  *     the corpus PLUS offset-id copies of a slice — identical vectors
  *     provably share sign-buckets, so the planted two-node components
  *     make the oracle non-vacuous (r2 it proved only "all singletons");
  *     graded pair-finding recall is additionally gated on a planted
  *     high-cosine corpus in AnnSpec.
  */
object SparkEntry {

  private def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Flagship config for the driver tables: documents carry trigram-level
    * near-dups (planted), so ngram=3; the rest is reference default
    * (threshold 0.7, min_length 5, num_perm 250, seed 42,
    * fuzzy_spark2.py:353-361). */
  private val docCfg = DedupConfig(
    idCol = "doc_id", textCol = "text",
    ngram = 3, minLength = 5, numPerm = 250, threshold = 0.7,
    seed = 42L, saltBuckets = 8, verify = true)

  /** Exact-recall variant for the oracle-compared SimHash/suffix queries:
    * salt 1 + complete within-bucket pair generation makes the candidate
    * set provably complete (Lsh.groupEdges doc), so verified output equals
    * the brute-force ground truth DuckDB recomputes. */
  private val exactCfg = docCfg.copy(saltBuckets = 1, allPairsCap = 1 << 20)

  /** Token count as the engine's min-length filter sees it — pure Catalyst,
    * codegen'd + pushdown-friendly (the round-1 UDF blocked both). Split
    * with limit=-1 keeps empties, so tokens = separator matches + 1:
    * `regexp_count + 1` is exactly that count, and unlike `split` (whose
    * UTF8String.split recompiles the Pattern PER ROW — the r2
    * q_minlen_filter 10× regression, VERDICT r2 #5) RegExpCount caches the
    * compiled regex across rows. Semantics match TextNorm.tokenize
    * ((?U)\W, empties kept); on this corpus ([a-z0-9 ] texts) it coincides
    * with the oracle's len(string_split(text, ' ')). */
  private def nTokens(text: Column): Column =
    (regexp_count(lower(text), lit("(?U)\\W")) + 1).cast("long")

  /** Planted blob for the CDC gates: 768 bytes = 3 × 256-byte segments,
    * each segment's content drawn from 8 shared possibilities by the
    * given `segChoice(id, seg)` selector — printable ASCII (32..126) so
    * the DuckDB oracle can rebuild chunk content with chr()/string_agg.
    * The byte formula is LOAD-BEARING for three oracles: change it here
    * and in [[cdcOracle]] together or a gate breaks. */
  private def cdcBytes(id: Long, segChoice: (Long, Int) => Int): Array[Byte] =
    Array.tabulate(768) { pos =>
      val s = pos / 256
      val k = segChoice(id, s)
      val off = pos % 256
      (32 + ((k * 53 + off * off * 31 + off * 17) % 95)).toByte
    }

  /** Heavy cross-doc AND intra-doc sharing: only 8 distinct blob
    * classes (segment choices depend on id mod 8). */
  private def cdcPlantedBytes(id: Long): Array[Byte] =
    cdcBytes(id, (d, s) => ((d * (2 * s + 3)) % 8).toInt)

  /** Pair-fixture variant: k_s = (id >> s) mod 8 gives 32 blob classes
    * with PARTIAL overlaps (neighbors share 2 of 3 segments →
    * chunk-Jaccard ≈ 2/3), so the ≥0.5 near-dup join sees real
    * intermediate similarities, not just exact copies. */
  private def cdcPairBytes(id: Long): Array[Byte] =
    cdcBytes(id, (d, s) => ((d >> s) % 8).toInt)

  /** The shared recursive-CTE prefix replaying [[dedup.Cdc]]'s gear
    * rolling hash for the three CDC oracles — ONE copy of the recursion
    * (gear table, shift, boundary rule, forced final end), parameterized
    * by the SQL segment-choice expression (must mirror the Scala
    * `segChoice` passed to [[cdcBytes]]) and the per-query SELECT tail
    * over the `byt`/`chunks` CTEs. */
  private def cdcOracle(kExpr: String, tail: String): String =
    s"""WITH RECURSIVE byt AS (
       |  SELECT d.doc_id, p.i AS pos,
       |    32 + (((($kExpr) % 8) * 53
       |           + (p.i % 256)*(p.i % 256)*31 + (p.i % 256)*17) % 95) AS b
       |  FROM documents d, generate_series(0,767) p(i)
       |),
       |roll AS (
       |  SELECT doc_id, pos, ((b + 1) * 2654435761) % 4294967296 AS h
       |  FROM byt WHERE pos = 0
       |  UNION ALL
       |  SELECT r.doc_id, r.pos + 1,
       |         (2*r.h + ((b.b + 1) * 2654435761) % 4294967296) % 4294967296
       |  FROM roll r JOIN byt b ON b.doc_id = r.doc_id AND b.pos = r.pos + 1
       |  WHERE r.pos < 767
       |),
       |ends AS (
       |  SELECT DISTINCT doc_id, pos AS e FROM (
       |    SELECT doc_id, pos FROM roll WHERE h % 32 = 0
       |    UNION ALL SELECT DISTINCT doc_id, 767 FROM roll)
       |),
       |chunks AS (
       |  SELECT doc_id,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), -1) + 1 AS start,
       |         e - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), -1) AS len
       |  FROM ends
       |)
       |$tail""".stripMargin

  private val cdcPlantedKExpr = "d.doc_id * (2*(p.i // 256) + 3)"
  private val cdcPairKExpr = "d.doc_id // (1 << (p.i // 256))"

  /** Sorted-distinct xxh64 hashes of word-trigram shingles — the engine-
    * native set representation for the SSJoin family. The r3 headline ran
    * these rows on raw STRING trigram arrays "for oracle parity", which
    * shuffled ~10× the bytes and made every verify intersect compare
    * strings (VERDICT r3 "what's wrong" #1); but the oracle recomputes
    * (inter, len) counts from raw text regardless, and set CARDINALITIES
    * are hash-invariant absent collisions (64-bit: ~1e-13 for this corpus,
    * and the whole MinHash path already accepts far more collision risk at
    * 32 bits), so the engine side is free to use int sets. */
  private val triGramHashes = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val hs = TextNorm.wordShingles(TextNorm.tokenize(text), 3, 5)
        .map(g => Hashes.xxh64Str(g)).toArray
      java.util.Arrays.sort(hs)
      var k = 0
      var i = 0
      while (i < hs.length) {
        if (k == 0 || hs(k - 1) != hs(i)) { hs(k) = hs(i); k += 1 }
        i += 1
      }
      if (k == hs.length) hs else java.util.Arrays.copyOf(hs, k)
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full MinHash-LSH + verify + CC dedup, returning kept documents. */
  def entry(spark: SparkSession): DataFrame =
    FuzzyDedup.kept(documents(spark, "/root/testdata/sf0.001"), docCfg)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------------- exact dedup
    "q_exact_dedup_rep" -> ((s, dir) => {
      documents(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_n"))
    }),
    "q_exact_kept" -> ((s, dir) => {
      ExactDedup.kept(documents(s, dir), idCol = "doc_id", textCol = "text")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    // -------------------------------------------------------------- filters
    "q_minlen_filter" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), nTokens(col("text")).as("n_tokens"))
        .where(col("n_tokens") >= 5)
    }),
    "q_token_stats" -> ((s, dir) => {
      documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nTokens(col("text"))).as("sum_tokens"),
          sum(length(col("text")).cast("long")).as("sum_chars"))
    }),
    // ------------------------------------------------- n-gram exact Jaccard
    // Engine side is SSJoin (prefix-filtered exact similarity join, recall
    // 1.0 by the prefix-filter theorem) — the DuckDB oracle recomputes the
    // same pairs BRUTE-FORCE from raw text, so this row proves the
    // prefix+length filters lose nothing. (Until r3 the engine side was
    // itself an all-pairs join — correct but an O(n²) scale anti-pattern.)
    "q_ngram_jaccard_pairs" -> ((s, dir) => {
      val g = documents(s, dir)
        .where(nTokens(col("text")) >= 5)
        .select(col("doc_id").as("id"), triGramHashes(col("text")).as("toks"))
      SSJoin.pairs(g, 0.7)
    }),
    // Exact-recall dedup assignments through the same join (SSJoin
    // .assignments = shingle sets → prefix-join pairs → CC): must equal the
    // ground-truth component graph DuckDB derives brute-force — the same
    // oracle q_fuzzy_assign is held to, with recall 1.0 guaranteed rather
    // than (1-(1-J^r)^b)-probable.
    "q_ssjoin_assign" -> ((s, dir) =>
      SSJoin.assignments(documents(s, dir), docCfg)),
    // Cluster-size histogram over the flagship dup graph — the dedup
    // audit number a corpus owner reads first ("how much mass sits in
    // how-big clusters"); two partial-aggregable groupBys over the
    // assignment output, oracle = the same histogram over DuckDB's
    // brute-force component graph.
    "q_cluster_sizes" -> ((s, dir) =>
      FuzzyDedup.assignments(documents(s, dir), docCfg)
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"))),
    // Containment join: |a∩b|/|a| ≥ 0.9 ordered pairs over the same
    // trigram sets — the asymmetric near-dup predicate MinHash cannot
    // see (quote-inside-page); exact-dup clusters make it non-vacuous
    // both directions. Oracle recomputes brute-force from raw text.
    "q_containment" -> ((s, dir) => {
      val g = documents(s, dir)
        .where(nTokens(col("text")) >= 5)
        .select(col("doc_id").as("id"), triGramHashes(col("text")).as("toks"))
      SSJoin.containmentPairs(g, 0.9)
    }),
    // Containment DEDUP (subset/quote removal): keep only docs not
    // 0.9-contained in a larger (or equal-size, smaller-id) doc. DuckDB
    // recomputes the drop rule brute-force from raw trigram sets.
    "q_contain_kept" -> ((s, dir) => {
      val g = documents(s, dir)
        .where(nTokens(col("text")) >= 5)
        .select(col("doc_id").as("id"), triGramHashes(col("text")).as("toks"))
      SSJoin.dropContained(g, 0.9).select(col("id").as("doc_id"))
    }),
    // ------------------------------------------------- connected components
    "q_cc_chain" -> ((s, dir) => {
      val d = documents(s, dir)
      val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
      val edges = d
        .select(col("doc_id").as("src"), lead(col("doc_id"), 1).over(w).as("dst"))
        .where(col("dst").isNotNull)
      // runAdaptive: single-task union-find at this edge volume (the
      // distributed loop spent 9.3 s of pure round latency on a 5,000-doc
      // chain in BENCH_r01 — VERDICT "What's wrong" #1); both paths are
      // property-tested identical.
      val comps = ConnectedComponents.runAdaptive(edges)
      ConnectedComponents.assignAll(d.select(col("doc_id").as("id")), comps)
    }),
    // --------------------------------------------------- flagship MinHash-LSH
    "q_fuzzy_assign" -> ((s, dir) =>
      FuzzyDedup.assignments(documents(s, dir), docCfg)),
    // Quality-weighted representative per fuzzy cluster: keep the member
    // with the most tokens (tie -> min id) instead of the arbitrary min-id
    // rule — one partial-agg groupBy (max_by), no window over members.
    // DuckDB replays cluster assignment via the recursive-CC CTE and the
    // argmax via row_number.
    "q_best_rep" -> ((s, dir) => {
      val d = documents(s, dir)
      val assign = FuzzyDedup.assignments(d, docCfg)
      val scored = d.select(col("doc_id").as("id"),
        nTokens(col("text")).as("quality"))
      FuzzyDedup.bestRepresentatives(assign, scored)
        .select(col("component"), col("keep_id"),
          col("quality").cast("long").as("quality"), col("group_n"))
    }),
    "q_fuzzy_kept" -> ((s, dir) => {
      FuzzyDedup.kept(documents(s, dir), docCfg)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // SOFT dedup (FuzzyDedup.softWeights): retain-and-downweight instead
    // of removal — every doc gets training weight 1/|cluster| in integer
    // ppm over the flagship's components, so an m-member template cluster
    // contributes ~one doc of gradient while keeping its internal
    // variation. One partial-agg groupBy + skew-splittable join-back;
    // DuckDB replays the components (recursive CTE) and the one
    // truncating division.
    "q_soft_dedup" -> ((s, dir) => {
      val d = documents(s, dir)
      FuzzyDedup.softWeights(FuzzyDedup.assignments(d, docCfg))
        .select(col("id").as("doc_id"), col("component"), col("csize"),
          col("weight_ppm"))
    }),

    // Cross-language shared-vocabulary matrix
    // (TextAnalysis.sharedGramMatrix): distinct trigrams shared per lang
    // pair — the corpus-level "which sources/langs leak into which"
    // audit that generalizes pairwise decontamination. Engine on hashed
    // gram sets (cardinalities hash-invariant); DuckDB brute-forces on
    // raw string grams.
    "q_lang_overlap" -> ((s, dir) => {
      val d = documents(s, dir)
        .where(nTokens(col("text")) >= 5)
        .select(col("lang"), triGramHashes(col("text")).as("toks"))
      TextAnalysis.sharedGramMatrix(d, "lang", "toks")
        .select(col("group_a").as("lang_a"), col("group_b").as("lang_b"),
          col("n_shared_grams"))
    }),
    // -------------------------------- SimHash: pipeline vs brute-force gate
    // Production path (blocks banding → salted groups → hamming verify →
    // CC) must equal the all-pairs hamming-≤k ground truth — provable via
    // pigeonhole under exactCfg, so any banding/verify/CC bug breaks it.
    // The fingerprint function itself is pinned by golden vectors in
    // VerifySimHashSpec; DuckDB can't recompute simhash, so the oracle
    // checks this per-doc equality projection instead.
    "q_simhash_assign" -> ((s, dir) => {
      val d = documents(s, dir)
      val cfgQ = exactCfg.copy(hammingK = 3)
      // planted falsifiable structure (VERDICT r2 "What's wrong" #2: the
      // equality check alone shares fingerprints+CC code between its two
      // sides): union byte-identical copies (offset ids) of every 5th
      // matchable doc. Identical text ⇒ identical fingerprint ⇒ hamming 0,
      // so the PRODUCTION path must place each copy in its original's
      // component — an expectation DuckDB derives from ids alone, immune
      // to a bug common to both in-Spark CC paths.
      val off = 10000000L
      val base = d.select(col("doc_id"), col("text"))
      val copies = base
        .where(pmod(col("doc_id"), lit(5L)) === 0L && nTokens(col("text")) >= cfgQ.minLength)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
      val d2 = base.unionByName(copies)
      val sh = Lsh.shingleSets(d2, cfgQ)
      val fps = SimHash.fingerprints(sh, cfgQ.seed).localCheckpoint()
      val e1 = SimHash.verifiedEdges(sh, cfgQ).select(col("src"), col("dst"))
      val a = fps.select(col("id").as("src"), col("fp").as("f1"))
      val b = fps.select(col("id").as("dst"), col("fp").as("f2"))
      val e2 = a.join(b, col("src") < col("dst"))
        .where(bit_count(col("f1").bitwiseXOR(col("f2"))) <= cfgQ.hammingK)
        .select(col("src"), col("dst"))
      val ids = d2.select(col("doc_id").as("id"))
      val c1 = ConnectedComponents.assignAll(ids, ConnectedComponents.runAdaptive(e1))
      val c2 = ConnectedComponents.assignAll(ids, ConnectedComponents.runAdaptive(e2))
        .withColumnRenamed("component", "c2")
      val eq = c1.join(c2, "id")
        .withColumn("okEq", col("component") === col("c2"))
      val orig = eq.where(col("id") < off)
        .select(col("id").as("oid"), col("component").as("oc"), col("okEq").as("okO"))
      val cop = eq.where(col("id") >= off)
        .select((col("id") - off).as("oid"), col("component").as("cc"), col("okEq").as("okC"))
      orig.join(cop, Seq("oid"), "left")
        .select(col("oid").as("doc_id"),
          (col("okO") && coalesce(col("okC"), lit(true)) &&
            coalesce(col("cc") === col("oc"), lit(true))).cast("long").as("ok"))
    }),
    "q_lsh_bands" -> ((s, dir) => {
      Lsh.bandKeys(Lsh.shingleSets(documents(s, dir), docCfg), docCfg).toDF()
        .groupBy(col("id").as("doc_id")).agg(count(lit(1)).as("n_bands"))
        .select(col("doc_id"), col("n_bands"))
    }),
    // --------------------------------------- suffix stage, oracle-recomputed
    // exactCfg topology ⇒ found edges ≡ exact "share a ≥120-char run"
    // graph (winnowing guarantee + complete bucket pairs + exact
    // longest-common-run verify); DuckDB rebuilds that graph from raw text
    // (120-gram join) and resolves components with a recursive CTE.
    "q_suffix_assign" -> ((s, dir) => {
      val d = documents(s, dir)
      val edges = SuffixDedup.verifiedEdges(d, exactCfg.copy(suffixMinRun = 120))
      val comps = ConnectedComponents.runAdaptive(edges.select(col("src"), col("dst")))
      ConnectedComponents.assignAll(d.select(col("doc_id").as("id")), comps)
    }),
    // ------------------------------------------------------------ window A8
    "q_dup_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      documents(s, dir)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 2)
        .select(col("lang"), col("source"), col("doc_id"), col("rnk"))
    }),
    // ---------------------------------------------------------- ordered ids
    "q_ordered_id" -> ((s, dir) => {
      Ids.orderedIds(documents(s, dir), "doc_id")
        .select(col("doc_id"), col("ord"))
    }),
    // ------------------------------------------------------- per-lang split
    "q_lang_split" -> ((s, dir) => {
      documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_kept"))
    }),
    // ------------------------------------------------------------------ ANN
    "q_ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val c = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.bruteForceTopK(q, c, 3)
        .select(col("qid").as("vec_id"), col("rank").cast("long").as("rnk"),
          col("neighbor_id"))
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").cast("long").as("cell"))
      Ann.ivfTopK(e, "cell", 3)
        .select(col("qid").as("vec_id"), col("rank").cast("long").as("rnk"),
          col("neighbor_id"))
    }),
    // Incremental SEMANTIC dedup (IncrementalDedup.newDocsSemantic): the
    // batch clones every even-id corpus embedding as either an exact COPY
    // (dropped: cosine 1; a byte-identical embedding shares its sign-LSH
    // bucket with probability 1, so engine recall is deterministic) or its
    // NEGATION (kept: cosine −1 to its source, ≤ this corpus's ~0.5 max
    // to everything else). DuckDB recomputes the drop rule brute-force
    // with list_cosine_similarity — bucket logic, probing and the verify
    // gate are all on trial.
    "q_incremental_sem" -> ((s, dir) => {
      val e = embeddings(s, dir)
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
      val batch = e.where(col("id") % 2 === 0)
        .select((col("id") + 1000000L).as("id"),
          when(col("id") % 4 === 0, col("vec"))
            .otherwise(transform(col("vec"), x => -x)).as("vec"))
      IncrementalDedup.newDocsSemantic(e, batch, 0.95, dim = 64)
        .select(col("id").as("vec_id"))
    }),

    // STREAMING fuzzy dedup semantics behind a DuckDB gate (VERDICT r4
    // #5): StreamingDedup.fuzzyMatchesBatch is the batch twin of the
    // Structured-Streaming fuzzy stage — IDENTICAL probe generation,
    // bucketing, b-bit lane state and first-seen-by-(ts,id) rep election
    // (the suite proves stream ≡ batch; this row puts the shared
    // semantics behind the oracle hash too). Input is an arithmetic
    // corpus: 16 duplicate classes with class-disjoint vocabularies
    // (cross-class MinHash estimate ~0, within-class signatures
    // identical → estimate exactly 1.0) and event times scrambled
    // against doc_id order, so the rep election genuinely exercises the
    // (ts, id) rule. DuckDB derives the full match set from the id
    // arithmetic alone: every non-rep class member is flagged against
    // the class's (ts, id)-min rep.
    "q_stream_fuzzy_batch" -> ((s, dir) => {
      val words = (0 until 30).map(k =>
        concat(lit(s"w${k}c"), (col("doc_id") % 16).cast("string")))
      val pages = documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("warc_ts",
          timestamp_seconds(lit(1700000000L) + (col("doc_id") * 37) % 101))
        .withColumn("text", concat_ws(" ", words: _*))
      StreamingDedup.fuzzyMatchesBatch(pages, docCfg, "warc_ts")
        .select(col("id"), col("dupOf"), col("estJaccard").as("est"))
    }),

    // STREAMING semantic dedup semantics behind a DuckDB gate (same
    // program as q_stream_fuzzy_batch): semanticMatchesBatch shares the
    // stream stage's sign-LSH bucketing, home-gated first-seen rep
    // election and exact-cosine verify. 16 classes of byte-identical
    // seeded-Gaussian vectors (cross-class cosine ~N(0, 1/√32) — nowhere
    // near the 0.95 gate; within-class exactly 1.0), event times
    // scrambled; DuckDB replays the match set from id arithmetic.
    "q_stream_sem_batch" -> ((s, dir) => {
      import s.implicits._
      val vecs = documents(s, dir)
        .select(col("doc_id").cast("long").as("id"),
          (col("doc_id") % 16).cast("int").as("cls"),
          timestamp_seconds(lit(1700000000L) + (col("doc_id") * 53) % 97).as("ts"))
        .as[(Long, Int, java.sql.Timestamp)]
        .map { case (id, cls, ts) =>
          val rnd = new scala.util.Random(cls * 7919L + 17L)
          (id, ts, Array.fill(32)(rnd.nextGaussian().toFloat))
        }.toDF("id", "ts", "vec")
      StreamingDedup.semanticMatchesBatch(vecs, 0.95, dim = 32, nbits = 16)
        .select(col("id"), col("dupOf"), col("cosine"))
    }),

    // brute-force cosine dedup baseline at a non-vacuous threshold (0.4 —
    // this corpus's max pairwise cosine ≈ 0.5; 0.95 matches nothing).
    // O(n²) by design, bench-excluded; scale path below.
    "q_embed_dedup" -> ((s, dir) => {
      val e = embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.cosineDedupAssignments(e, 0.4)
    }),
    // multi-probe sign-LSH scale path at its design regime (0.95), made
    // NON-vacuous (VERDICT r2 #3: this corpus alone has zero pairs ≥0.95,
    // so the old row only proved "everyone is a singleton"): union the
    // corpus with offset-id copies of the vec_id<50 slice. Identical
    // vectors hash to identical sign-buckets (deterministic hyperplanes),
    // so every planted pair is found at probe radius 0 and verified at
    // cosine 1.0 — recall is provable, and the oracle graph now has 50
    // two-node components the LSH path must reproduce.
    "q_embed_dedup_lsh" -> ((s, dir) => {
      val base = embeddings(s, dir)
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
      val planted = base.where(col("id") < 50)
        .select((col("id") + 1000000L).as("id"), col("vec"))
      Ann.cosineDedupLsh(base.unionByName(planted), 0.95, dim = 64,
        nbits = 8, seed = 42L, probeRadius = 2)
    }),
    // ----------------------------------------- semantic dedup (cell prune)
    "q_semdedup" -> ((s, dir) => {
      val e = embeddings(s, dir)
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"),
          col("label").cast("long").as("cell"),
          col("vec_id").cast("double").as("ord"))
      SemDedup.pruneWithinCells(e, 0.4)
        .select(col("id").as("vec_id"), col("removed").cast("long").as("removed"))
    }),
    // -------------------------------------------------------- text analysis
    "q_quality" -> ((s, dir) => {
      TextAnalysis.qualityFeatures(documents(s, dir), "text")
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_distinct_tokens").cast("long").as("n_distinct_tokens"),
          col("n_digits").cast("long").as("n_digits"),
          col("is_short").cast("long").as("is_short"))
    }),
    "q_lang_id" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langIdUdf(col("text")).as("pred_lang"))
    }),
    "q_fingerprint" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("fp"))
    }),
    "q_token_bpe" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe"))
    }),
    // Gopher repetition numerators (TextAnalysis.repetitionStats): every
    // 6th doc is self-concatenated so duplicated 5-grams and top-2-gram
    // counts ≥2 exist by construction (non-vacuous both ways); DuckDB
    // recomputes words→grams→top/coverage from raw strings with window
    // functions — engine-independent. Projection kept to the n=2 top and
    // n=5 dup columns to keep the oracle SQL tractable; the other n are
    // identical code paths, suite-verified.
    "q_repetition" -> ((s, dir) => {
      val planted = when(col("doc_id") % 6 === 0,
        concat(col("text"), lit(" "), col("text"))).otherwise(col("text"))
      val d = documents(s, dir).select(col("doc_id"), planted.as("text"))
      TextAnalysis.repetitionStats(d, "doc_id", "text")
        .select(col("doc_id"), col("n_word_chars"), col("top_2_chars"), col("dup_5_chars"))
    }),

    // Normalization-insensitive exact dedup (ExactDedup.normalizedAssignments):
    // every 9th doc gets an offset-id twin differing only in case,
    // punctuation and leading whitespace — the twin MUST collapse onto the
    // original (component = original id), everything else stays a
    // singleton. DuckDB recomputes the same canonical form (regex classes
    // chosen for identical Java-regex/RE2 semantics) and min-id grouping.
    "q_norm_dedup" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val twins = base.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("!!")).as("text"))
      dedup.ExactDedup.normalizedAssignments(base.union(twins), "doc_id", "text")
        .select(col("id").as("doc_id"), col("component"))
    }),

    // CCNet-style char-bigram LM: the integer-exact projection (bigram
    // count + familiarity = Σ corpus-count per bigram occurrence). DuckDB
    // recomputes both from raw strings via generate_series — independent
    // of the engine's hash-probe vocabulary. vocabK is left at its default
    // (≫ the ≤27² ascii bigram space here) so the cap never truncates.
    "q_char_lm" -> ((s, dir) => {
      TextAnalysis.charLmStats(documents(s, dir), "doc_id", "text")
        .where(col("n_bigrams") > 0) // oracle's join drops bigram-less docs
        .select(col("doc_id"), col("n_bigrams"), col("familiarity"))
    }),

    // CCNet §4.3 head/middle/tail corpus split, exact-tercile variant
    // (TextAnalysis.fluencyBuckets): per-language rank of the integer-exact
    // fluency ratio via range-partition + broadcast offsets (no per-lang
    // window), bucket = floor(rank*3/n). DuckDB re-derives rank with a
    // window function from the same raw strings — the hash gates the whole
    // chain: bigram LM, ratio order, tie-breaks, and tercile arithmetic.
    "q_ppl_buckets" -> ((s, dir) => {
      TextAnalysis.fluencyBuckets(documents(s, dir), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("lang_rank"), col("bucket"))
    }),

    // Data-mixture sampling (Sampling.mixtureRatesPpm — the Pile/Dolma
    // mixing knob): per-source token counts → integer-ppm keep rates
    // splitting a token budget by planted weights, sampled with the
    // md5-Bernoulli rule. Budget = minT·ΣW / (2·maxW) guarantees no
    // source saturates for ANY data, so the engine's water-fill loop and
    // the oracle's one-round closed form provably coincide — both sides
    // use ONE canonical integer division, so rates match bit-for-bit and
    // no doc sits on a float boundary. The aggregate collect is
    // O(#sources) — driver-safe at any corpus size.
    "q_mixture" -> ((s, dir) => {
      val docs = documents(s, dir)
        .withColumn("source",
          coalesce(when(col("lang") === "", lit(null)).otherwise(col("lang")),
            lit("__null__")))
        .withColumn("ntok", nTokens(col("text")))
      val counts = docs.groupBy(col("source"))
        .agg(sum(col("ntok")).cast("long").as("T"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val weights = counts.keys
        .map(src => src -> ((src.head.toInt % 5) + 1) * 100000L).toMap
      val wsum = weights.values.sum
      val budget = counts.values.min * wsum / (2L * weights.values.max)
      val rates = dedup.Sampling.mixtureRatesPpm(counts, weights, budget)
      docs
        .withColumn("rate_ppm", element_at(typedLit(rates), col("source")))
        .where(dedup.Sampling.hashUnit(col("doc_id").cast("string")) * lit(1000000L)
          < col("rate_ppm") * lit(4294967296L))
        .select(col("doc_id"), col("source"), col("rate_ppm"))
    }),

    // Content-defined chunking (Cdc.boundaries): planted 768-byte blobs
    // (3 × 256-byte segments drawn from 8 shared contents by doc-id
    // arithmetic), gear rolling hash h←(2h+gear(b)) mod 2³², boundary at
    // h≡0 (mod 32). The oracle replays the h recursion with a recursive
    // CTE, so any drift in the gear table, the shift, or the boundary
    // rule breaks the hash. Zero shuffle.
    "q_cdc_chunks" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val bytes = cdcPlantedBytes(id)
            val ch = dedup.Cdc.boundaries(bytes, 5)
            var bsum = 0L
            ch.foreach { case (start, len) => bsum += (start + 1).toLong * len }
            (id, ch.length.toLong, bsum)
          }
        }.toDF("doc_id", "n_chunks", "bsum")
    }),

    // Chunk-store dedup accounting (Cdc.chunkStats — the PRODUCTION
    // operator: explode → one partial-agg groupBy(chunk key) → first-
    // owner join): same planted blobs, heavy cross- and intra-doc
    // segment sharing. Engine keys chunks by xxh64 content hash; DuckDB
    // groups by the chunk's literal content string — equality coincides
    // unless the hash itself is broken.
    "q_cdc_dedup" -> ((s, dir) => {
      import s.implicits._
      val blobs = documents(s, dir).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id, cdcPlantedBytes(id))))
        .toDF("doc_id", "bin")
      dedup.Cdc.chunkStats(blobs, "doc_id", "bin", 5)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_bytes"),
          col("dup_chunks"), col("dup_bytes"))
    }),

    // Binary near-dup pairs via chunk overlap (Cdc.chunkHashes sets →
    // the SSJoin prefix-filtered exact join): arbitrary blobs whose chunk
    // sets share ≥50% Jaccard. Planted 32-class blobs give real intermediate
    // similarities; DuckDB replays chunking via the recursive CTE and
    // brute-forces every pair on literal chunk content.
    "q_cdc_pairs" -> ((s, dir) => {
      import s.implicits._
      val sets = documents(s, dir).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val hs = dedup.Cdc.chunkHashes(cdcPairBytes(id), 5)
            .map(_._3).distinct.sorted.toArray
          (id, hs)
        })
        .toDF("id", "toks")
      SSJoin.pairs(sets, 0.5)
        .withColumn("sim_decile", expr("inter * 10 DIV uni"))
        .select(col("id_a"), col("id_b"), col("sim_decile"))
    }),

    // Per-host quality rollup (UrlOps.hostQuality): Gopher gate then one
    // host-keyed partial agg — the domain-level curation signal. URLs are
    // synthesized from doc_id (the documents table has no url column, same
    // convention as q_url_host); DuckDB recomputes every gate rule and the
    // integer pass rate from raw text.
    "q_domain_quality" -> ((s, dir) => {
      val url = concat(lit("https://www.site"),
        (col("doc_id") % 50).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"))
      UrlOps.hostQuality(
          documents(s, dir).withColumn("url", url), "url", "text")
        .select(col("host"), col("docs"), col("pass_docs"),
          col("tokens"), col("pass_per_mille"))
    }),

    // HTML extraction roundtrip: wrap each doc's text in markup (with a
    // script element and entities the extractor must drop/decode), extract
    // through the distributed path, and compare against DuckDB's
    // first-principles expectation (the whitespace-normalized text itself).
    "q_html_text" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><style>p{}</style></head><body><p>"),
        col("text"),
        lit("</p><script>var x = 1 &lt; 2;</script></body></html>"))
      documents(s, dir)
        .select(col("doc_id"), encode(html, "UTF-8").as("html"))
        .transform(d => HtmlExtract.extractColumn(d, "html", "extracted"))
        .select(col("doc_id"), col("extracted"))
    }),

    // URL ops over synthesized denormalized URLs (the documents table has
    // no url column): Spark builds a gnarly spelling (mixed case, userinfo,
    // default port, fragment) from doc_id and runs UrlOps host/domain/
    // normalize; DuckDB writes down the EXPECTED clean forms by plain
    // string concatenation — independent of our regexes, so an extraction
    // or normalization bug fails the hash.
    "q_url_host" -> ((s, dir) => {
      val url = concat(lit("HTTPS://User@WWW.Site"),
        (col("doc_id") % 50).cast("string"),
        lit(".Example.COM:443/p/"), col("doc_id").cast("string"), lit("?x=1#sec"))
      documents(s, dir).select(col("doc_id"),
        UrlOps.host(url).as("host"),
        UrlOps.domain(url).as("domain"),
        UrlOps.normalize(url).as("url_norm"))
    }),

    // Host link graph (HtmlExtract.links + LinkGraph): Spark builds REAL
    // html (quoted/single-quoted/unquoted hrefs, an &amp; entity, a
    // commented-out anchor, a script-embedded anchor, a duplicate-host
    // link) and runs the scanner + distinct-edge + degree plan; DuckDB
    // derives the expected edge set from the doc_id arithmetic alone —
    // independent of the HTML scanner, the host regex, and the dedup.
    "q_link_graph" -> ((s, dir) => {
      val url = concat(lit("https://s"), (col("doc_id") % 9).cast("string"),
        lit(".example.com/page/"), col("doc_id").cast("string"))
      val dst1 = concat(lit("https://h"), (col("doc_id") % 7).cast("string"),
        lit(".example.org"))
      val dst2 = concat(lit("https://h"), ((col("doc_id") + 3) % 5).cast("string"),
        lit(".example.net"))
      val html = concat(
        lit("<html><body><h1>Doc</h1><a class=\"x\" href=\""), dst1,
        lit("/a?b=1&amp;c=2\">one</a> <a href='"), dst2,
        lit("/q'>two</a><a href="), dst1,
        lit("/dup >dup-host</a><!-- <a href=\"https://nope.example/\">no</a> -->"),
        lit("<script>var a = '<a href=\"https://alsono.example/\">';</script></body></html>"))
      val pages = documents(s, dir)
        .select(url.as("url"), encode(html, "UTF-8").as("html"))
      LinkGraph.degrees(LinkGraph.hostEdges(pages))
        .select(col("host"), col("out_deg"), col("in_deg"))
    }),

    // Integer fixed-point PageRank (LinkGraph.pageRankInt) over the same
    // arithmetic-derived host graph, 2 iterations: every step is integer
    // division + integer sums, so DuckDB reproduces the ranks BIT-EXACTLY
    // by unrolling the same two iterations — a hard hash oracle where
    // float PageRank could only offer a tolerance check.
    "q_pagerank" -> ((s, dir) => {
      val url = concat(lit("https://s"), (col("doc_id") % 9).cast("string"),
        lit(".example.com/page/"), col("doc_id").cast("string"))
      val dst1 = concat(lit("https://h"), (col("doc_id") % 7).cast("string"),
        lit(".example.org"))
      val dst2 = concat(lit("https://h"), ((col("doc_id") + 3) % 5).cast("string"),
        lit(".example.net"))
      val html = concat(
        lit("<a href=\""), dst1, lit("/a\">one</a><a href='"), dst2,
        lit("/b'>two</a>"))
      val pages = documents(s, dir)
        .select(url.as("url"), encode(html, "UTF-8").as("html"))
      LinkGraph.pageRankInt(LinkGraph.hostEdges(pages), iterations = 2)
        .select(col("host"), col("rank").as("rank_fp"))
    }),

    // Anchor-text aggregation per destination host (HtmlExtract.anchors +
    // LinkGraph.anchorTexts): the planted HTML exercises entity decode
    // inside anchor text (&amp;), nested-tag stripping (<b>), an
    // empty-anchor image link (dropped), a same-host link (dropped) and a
    // commented-out anchor (dropped); DuckDB derives the surviving
    // (host, anchor) multiset from doc_id arithmetic alone, independent of
    // the scanner.
    "q_anchor_text" -> ((s, dir) => {
      val url = concat(lit("https://s"), (col("doc_id") % 9).cast("string"),
        lit(".example.com/page/"), col("doc_id").cast("string"))
      val dst1 = concat(lit("https://h"), (col("doc_id") % 7).cast("string"),
        lit(".example.org"))
      val dst2 = concat(lit("https://h"), ((col("doc_id") + 3) % 5).cast("string"),
        lit(".example.net"))
      val html = concat(
        lit("<html><body><a href=\""), dst1,
        lit("/x?a=1\">ref "), (col("doc_id") % 4).cast("string"),
        lit(" &amp; more</a> <a href='"), dst2,
        lit("/q'> <b>bold</b> site "), (col("doc_id") % 3).cast("string"),
        lit(" </a><a href=\""), dst1,
        lit("/i\"><img src=\"x.png\"/></a>"),
        lit("<a href=\"https://s"), (col("doc_id") % 9).cast("string"),
        lit(".example.com/self\">self nav</a>"),
        lit("<!-- <a href=\"https://nope.example/\">no</a> --></body></html>"))
      val pages = documents(s, dir)
        .select(url.as("url"), encode(html, "UTF-8").as("html"))
      LinkGraph.anchorTexts(pages)
        .select(col("host"), col("n_links"), col("n_anchors"), col("top_anchor"))
    }),

    // Unicode NFC normalization (TextNorm.nfc): combining-sequence and
    // compatibility characters planted by doc_id arithmetic (e+U+0301,
    // U+212B ANGSTROM) — DuckDB's own nfc_normalize() is a fully
    // independent implementation of the same Unicode standard, so any
    // deviation (including the fast-path skip) fails the hash.
    "q_nfc_norm" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(" \u212B")).otherwise(lit("")))
      val norm = TextNorm.nfcCol(planted)
      documents(s, dir).select(col("doc_id"), norm.as("text_nfc"),
        (norm =!= planted).as("changed"))
    }),

    // jusText-style main-content extraction (HtmlExtract.mainContent):
    // four-block pages built by concat arithmetic — body prose (kept),
    // an all-links nav (dropped: link density), a short footer (dropped:
    // length), a conditional every-3rd-doc paragraph, and a prose block
    // containing one anchor (kept, anchor text included). DuckDB writes
    // the EXPECTED survivor text by plain string concatenation —
    // independent of the scanner, the block splitter, and the integer
    // link-density predicate.
    "q_main_content" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><body><p>Body content for doc "), id,
        lit(" lorem ipsum lorem ipsum lorem ipsum lorem ipsum lorem ipsum</p>"),
        lit("<nav><a href=\"https://x.example/\">Home</a> " +
          "<a href=\"https://x.example/a\">About</a> " +
          "<a href=\"https://x.example/c\">Contact</a></nav>"),
        lit("<p>(c) 2026</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<p>Extra analysis paragraph reserved for every third " +
            "document with sufficient length to clear the gate.</p>"))
          .otherwise(lit("")),
        lit("<p>Read the full analysis at <a href=\"https://deep.example/r\">" +
          "this link</a> which has plenty of surrounding prose for doc "),
        id, lit(" to pass the length gate.</p></body></html>"))
      documents(s, dir).select(col("doc_id"),
        HtmlExtract.mainContentCol(html).as("main"))
    }),

    // URL-canonicalization dedup (UrlOps.normalize × ExactDedup): the same
    // page re-crawled under mixed-case scheme/host, default port, and
    // per-crawl fragments must land in one component keyed by the
    // normalized url. The group is (doc_id % 80) BY CONSTRUCTION, so
    // DuckDB derives component = min id per arithmetic group without ever
    // touching the normalizer — a normalize or grouping bug fails the hash.
    "q_url_dedup" -> ((s, dir) => {
      val url = concat(lit("HTTPS://WWW.Site"), (col("doc_id") % 40).cast("string"),
        lit(".Example.COM:443/p/"), (col("doc_id") % 80).cast("string"),
        lit("#s"), col("doc_id").cast("string"))
      val pages = documents(s, dir)
        .select(col("doc_id"), UrlOps.normalize(url).as("u"))
      ExactDedup.assignments(pages, "doc_id", "u")
        .select(col("id").as("doc_id"), col("component"))
    }),

    // Unicode-script histogram (TextAnalysis.scriptStats): the base corpus
    // is pure ASCII (oracle counts latin with a plain [A-Za-z] regex), and
    // Cyrillic/Han/Arabic/Greek snippets of KNOWN letter counts are planted
    // by doc_id arithmetic — a script-classification or code-point-
    // iteration bug flips exact integer counts.
    "q_script_stats" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" Привет")).otherwise(lit("")), // 6 cyrillic
        when(col("doc_id") % 4 === 0,
          lit(" 中文猫")).otherwise(lit("")), // 3 han
        when(col("doc_id") % 5 === 0,
          lit(" مرحبا")).otherwise(lit("")), // 5 arabic
        when(col("doc_id") % 7 === 0,
          lit(" Ψυχή")).otherwise(lit(""))) // 4 greek -> other
      TextAnalysis.scriptStats(
          documents(s, dir).select(col("doc_id"), planted.as("t2")), "doc_id", "t2")
        .withColumnRenamed("id", "doc_id")
    }),

    // Gopher-style quality gate (TextAnalysis.qualityFilter): every rule
    // is integer-exact cross-multiplication, so DuckDB replicates the
    // booleans bit-for-bit from the raw text.
    "q_quality_filter" -> ((s, dir) => {
      TextAnalysis.qualityFilter(documents(s, dir), "text")
        .select(col("doc_id"), col("n_tokens"), col("ok_len"),
          col("ok_word_len"), col("ok_alpha"), col("ok_digits"),
          col("ok_repetition"), col("keep"))
    }),

    // Line-level dedup (CCNet-style boilerplate removal): each doc becomes
    // three lines — two text slices plus a footer shared by its doc_id%7
    // group — and LineDedup keeps only the globally-first occurrence of
    // every non-blank line ((id,pos)-min). DuckDB recomputes the expected
    // cleaned text from the same construction with a window function, so
    // the hash checks first-occurrence semantics, blank-line preservation
    // and byte-exact reassembly at once.
    "q_line_dedup" -> ((s, dir) => {
      val composed = documents(s, dir).select(
        col("doc_id"),
        concat_ws("\n",
          substring(col("text"), 1, 40),
          concat(lit("boilerplate footer "), col("doc_id") % 7),
          substring(col("text"), 41, 1000000)).as("text"))
      LineDedup.dedupLines(composed, "doc_id", "text")
        .select(col("id").as("doc_id"), col("text_clean"),
          col("n_lines"), col("n_kept"))
    }),

    // PII redaction: plant an email, an IPv4 and an E.164 phone around a
    // text slice; DuckDB writes the EXPECTED redacted string by plain
    // concatenation (regex-independent — over- or under-matching fails the
    // hash, the q_url_host oracle style).
    "q_pii_redact" -> ((s, dir) => {
      val planted = concat(
        substring(col("text"), 1, 30),
        lit(" contact user"), col("doc_id"),
        lit("@mail"), col("doc_id") % 9, lit(".org or 10."),
        col("doc_id") % 200, lit(".0."), col("doc_id") % 250,
        lit(" call +1 555014"), col("doc_id") % 90 + 10, lit(" done"))
      val (ne, ni, np) = Pii.piiCounts(planted)
      documents(s, dir).select(col("doc_id"),
        Pii.redact(planted).as("redacted"),
        ne.as("n_emails"), ni.as("n_ips"), np.as("n_phones"))
    }),

    // Incremental snapshot dedup: existing = doc_id%5!=0 docs; batch =
    // the doc_id%5==0 docs (all genuinely new — the corpus has no
    // byte-identical texts) PLUS planted byte-identical copies of an
    // existing slice under offset ids, which MUST be dropped. Keeps batch
    // docs whose text does not occur in existing (bloom prefilter + exact
    // confirm — IncrementalDedup); the planted copies make the oracle
    // non-vacuous (the q_embed_dedup_lsh lesson, VERDICT r2 #1).
    "q_incremental" -> ((s, dir) => {
      val d = documents(s, dir)
      val existing = d.where(col("doc_id") % 5 =!= 0)
      val planted = existing.where(col("doc_id") % 97 === 1)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      val batch = d.where(col("doc_id") % 5 === 0).unionByName(planted)
      IncrementalDedup.newDocs(existing, batch, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Per-domain frequency cap (Sampling.domainCap): synthesize a URL whose
    // registrable domain is doc_id % 13 by construction, keep the 20
    // min-id pages per domain. DuckDB derives the expected kept set from
    // the id arithmetic alone (row_number over doc_id % 13) — independent
    // of UrlOps' regexes, so a domain-extraction or cap bug fails the hash.
    "q_domain_cap" -> ((s, dir) => {
      val url = concat(lit("https://sub"), col("doc_id").cast("string"),
        lit(".site"), (col("doc_id") % 13).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"))
      val pages = documents(s, dir)
        .select(col("doc_id"), url.as("url"), col("lang"), col("n_chars"))
      Sampling.domainCap(pages, "url", "doc_id", 20)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Corpus-relative rare-token stats (TextAnalysis.rareTokenStats): the
    // base corpus has ZERO rare tokens (31-word vocabulary, all ≥5
    // occurrences), so every 7th doc gets a planted once-only token —
    // those docs must read n_rare = 1, the rest 0, and a vocabulary or
    // probe bug flips rows both ways. DuckDB recomputes from raw strings
    // (count + left join), independent of the engine's xxh64 probe array.
    "q_rare_tokens" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" uniq"), col("doc_id").cast("string"))).otherwise(lit("")))
      val d = documents(s, dir).select(col("doc_id"), planted.as("text2"))
      TextAnalysis.rareTokenStats(d, "doc_id", "text2", 5L)
        .select(col("doc_id"), col("n_tokens"), col("n_rare"))
    }),

    // C4-style blocklist gate (TextAnalysis.blocklistFilter): keep iff
    // blocklisted-token occurrences ≤ 2% of tokens — integer-exact
    // predicate, zero-shuffle higher-order-function projection. The two
    // words are real corpus vocabulary (~0.9% each per doc), so the 2%
    // threshold splits the corpus non-vacuously both ways.
    "q_blocklist" -> ((s, dir) =>
      TextAnalysis.blocklistFilter(documents(s, dir), "text",
          Seq("customer", "vector"), 20)
        .select(col("doc_id"), col("n_tokens"), col("n_blocked"), col("keep"))),

    // Re-crawl resolution (Sampling.latestPerKey): synthesize 40 urls each
    // crawled ~12 times (url = doc_id % 40), keep the max-doc_id "newest"
    // row per url via map-side partial max_by — no hot-key window task.
    // DuckDB recomputes the survivor with exactly that window.
    "q_recrawl" -> ((s, dir) => {
      val d = documents(s, dir)
      val pages = d.select(col("doc_id"),
        concat(lit("https://site"), (col("doc_id") % 40).cast("string"),
          lit("/p")).as("url"),
        col("lang"))
      Sampling.latestPerKey(pages, col("url"), col("doc_id"))
        .select(col("doc_id"), col("url"), col("lang"))
    }),

    // Deterministic hash sampling (Sampling.hashSample): per-language
    // Bernoulli rates (n/8 grid — exact in binary both engines) keyed on
    // md5(doc_id) so DuckDB recomputes the IDENTICAL keep decision per row
    // — no RNG, auditable outside Spark. Temperature-rate derivation is
    // driver-side float math and suite-gated instead (SamplingSpec).
    "q_lang_sample" -> ((s, dir) => {
      val rate = ((ascii(substring(col("lang"), 1, 1)) % 7) + 1).cast("double") / lit(8.0)
      Sampling.hashSample(documents(s, dir), col("doc_id").cast("string"), rate)
        .select(col("doc_id"), col("lang"))
    }),

    // Corpus vocabulary top-k (TextAnalysis.topWords): 100 most frequent
    // whitespace tokens, ties by word ascending — fully SQL-replicable.
    "q_top_words" -> ((s, dir) =>
      TextAnalysis.topWords(documents(s, dir), "text", 100)),

    // Approx-distinct corpus metric (Hll.registers): the HyperLogLog
    // sketch of the corpus vocabulary as its exact integer register
    // table — md5-hashed (engine-portable, the Sampling.hashUnit
    // discipline), rank via length(bin(w)) so there is NO float anywhere
    // in the sketch, and DuckDB recomputes every register bit-exactly.
    // One partial-agg groupBy on a ≤512-value key: any input volume
    // collapses map-side to ≤512 rows per task — the plan that replaces
    // count(distinct token) at 10¹² docs (estimation from the 512
    // integers is driver-side; accuracy ±4.6% is suite-gated in HllSpec).
    "q_hll_words" -> ((s, dir) => {
      val words = documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
      Hll.registers(words, col("w"))
        .select(col("bucket"), col("max_rho"))
    }),

    // Robots-exclusion gate (Robots.decide, RFC 9309): urls and per-host
    // robots.txt are synthesized from doc_id arithmetic — hosts divisible
    // by 3 carry a crawler-SPECIFIC group (which must then beat the *
    // group entirely), the * group exercises longest-match (Allow
    // /priv/ok under Disallow /priv) and per-host rule variation
    // (/tmp disallowed on even hosts only). The engine runs the real
    // parser + group selection + longest-match on every host; DuckDB
    // derives the identical verdicts from the arithmetic alone.
    "q_robots" -> ((s, dir) => {
      import s.implicits._
      val seg = col("doc_id") % 4
      val pages = documents(s, dir).select(col("doc_id"),
        concat(lit("https://www.site"), (col("doc_id") % 10).cast("string"),
          lit(".example.com/"),
          when(seg === 0, "pub").when(seg === 1, "priv")
            .when(seg === 2, "priv/ok").otherwise("tmp"),
          lit("/p"), col("doc_id").cast("string")).as("url"))
      val robots = s.range(10).select(
        concat(lit("www.site"), col("id").cast("string"),
          lit(".example.com")).as("host"),
        concat(
          when(col("id") % 3 === 0,
            lit("User-agent: graftbot\nDisallow: /pub\n\n")).otherwise(lit("")),
          lit("User-agent: *\nDisallow: /priv\nAllow: /priv/ok\n"),
          when(col("id") % 2 === 0, lit("Disallow: /tmp\n")).otherwise(lit("")))
          .as("txt"))
      Robots.decide(pages, "url", robots, "host", "txt", "graftbot")
        .select(col("doc_id"), col("host"), col("robots_allowed"))
    }),

    // Phrase-blocklist hits (TextAnalysis.phraseHits): C4's REAL gate is
    // phrase-based, not token-based — one broadcast Aho–Corasick pass
    // counts every (phrase, end-position) occurrence, overlaps included,
    // in O(chars) per doc regardless of list size. The synthetic corpus
    // repeats words ("batch batch batch" → two overlapping "batch batch"
    // hits), so the overlap semantics are load-bearing, and DuckDB
    // replays the count by probing every start offset with substr —
    // automaton-independent. Zero shuffle.
    "q_phrase_hits" -> ((s, dir) =>
      TextAnalysis.phraseHits(documents(s, dir), "doc_id", "text",
        Seq("batch batch", "slow join", "window window"))
        .select(col("id").as("doc_id"), col("n_hits"))),

    // BM25 top-k corpus search (TextAnalysis.bm25TopK): the search-based
    // curation primitive, integer fixed-point end to end — idf is the
    // EXACT bit-length log2 (no transcendental), tf saturation and
    // doc-length normalization are positive-integer DIVs — so DuckDB
    // recomputes every doc's score bit-for-bit from raw text (df, N,
    // avgdl included) and must produce the identical top-25 under the
    // identical (score desc, id asc) tie-break. One stats pass + one
    // zero-shuffle scoring scan + per-partition-heap top-k.
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(documents(s, dir), "doc_id", "text",
        Seq("spark", "window", "hash"), 25)),

    // Duplicated-span removal (SuffixDedup.removeRuns — Lee et al. 2022
    // substring semantics: cut the shared ≥120-char run from later docs,
    // keep the earliest occurrence whole). exactCfg topology ⇒ candidate
    // pairs are complete, so coverage equals the from-first-principles
    // definition DuckDB recomputes: a char is removed iff it lies inside a
    // 120-gram that also occurs in a smaller-id doc (coveredIntervals doc
    // proves gram-coverage ≡ run-coverage). The oracle rebuilds the exact
    // residual STRING per doc — any off-by-one in interval merging or
    // string surgery fails the hash.
    "q_remove_runs" -> ((s, dir) => {
      SuffixDedup.removeRuns(documents(s, dir), exactCfg.copy(suffixMinRun = 120))
        .select(col("id").as("doc_id"), col("text_clean"), col("n_removed"))
    }),

    // Incremental FUZZY snapshot dedup (IncrementalDedup.newDocsFuzzy):
    // existing = doc_id%3!=0 docs, batch = doc_id%3==0 docs plus planted
    // byte-identical copies of an existing slice under offset ids
    // (guaranteed non-vacuous drops, the q_incremental design). A batch doc
    // is kept iff NO existing doc reaches trigram-jaccard ≥ 0.7 — unlike
    // q_fuzzy_assign there is no connected-components closure to mask a
    // missed pair, so this row directly gates cross-corpus banding recall.
    // DuckDB recomputes the predicate from raw strings (gram join),
    // independent of MinHash/banding/bloom machinery.
    "q_incremental_fuzzy" -> ((s, dir) => {
      val d = documents(s, dir)
      val existing = d.where(col("doc_id") % 3 =!= 0)
      val planted = existing.where(col("doc_id") % 89 === 2)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      val batch = d.where(col("doc_id") % 3 === 0).unionByName(planted)
      // pruneFpp on: the Bloom semi-join reduction of the corpus band
      // index runs UNDER the DuckDB oracle (exactness-preserving prune).
      IncrementalDedup.newDocsFuzzy(existing, batch, docCfg, pruneFpp = 0.01)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Cross-corpus verified pairs (IncrementalDedup.crossPairs): the
    // analysis form of incremental fuzzy dedup — every (batch, existing)
    // pair at trigram-jaccard ≥ 0.7 with its exact (inter, uni). Same
    // split + planting as q_incremental_fuzzy, so the planted copies
    // guarantee pairs exist; DuckDB recomputes pairs AND counts from raw
    // strings.
    "q_cross_pairs" -> ((s, dir) => {
      val d = documents(s, dir)
      val existing = d.where(col("doc_id") % 3 =!= 0)
      val planted = existing.where(col("doc_id") % 89 === 2)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      val batch = d.where(col("doc_id") % 3 === 0).unionByName(planted)
      IncrementalDedup.crossPairs(existing, batch, docCfg, pruneFpp = 0.01)
        .select(col("bid"), col("eid"), col("inter"), col("uni"))
    }),

    // Token-budget shard packing (Shards.assignByBudget): deterministic
    // exclusive-prefix-sum sharding with NO single-partition window (range
    // partition + broadcast offsets, the Ids.orderedIds machinery); DuckDB
    // recomputes the assignment with exactly the global window the engine
    // refuses to plan, so any offset/boundary bug fails the hash.
    "q_shards" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), nTokens(col("text")).as("w"))
      Shards.assignByBudget(d, "doc_id", col("w"), 4096L)
        .select(col("doc_id"), col("weight").as("n_tokens"), col("shard"))
    }),

    // Quality-stratified shards (Shards.stratifiedShards): rank by
    // (n_chars desc, doc_id asc), deal round-robin into 8 shards — every
    // shard gets the same count ±1 AND the same quality mix. The oracle
    // replays the exact rank and modulus, so the hash gates the entire
    // assignment (the scale shape avoids the global window the SQL uses).
    "q_stratified_shards" -> ((s, dir) => {
      Shards.stratifiedShards(documents(s, dir), "doc_id", col("n_chars"), 8)
        .select(col("doc_id"), col("qrank"), col("shard"))
    }),

    // Fixed-window training chunks (Shards.chunkDocs): window 64 tokens,
    // overlap 16 (stride 48) — the context-length prep that turns long
    // pages into training rows. Zero-shuffle Catalyst (sequence +
    // transform + posexplode); DuckDB rebuilds every chunk string by
    // slicing the same token list, so window boundaries, the short-doc
    // whole-doc rule, and the no-contained-tail rule are all hash-gated.
    "q_chunk_docs" -> ((s, dir) => {
      Shards.chunkDocs(documents(s, dir), "doc_id", "text", 64, 16)
        .select(col("id"), col("chunk_idx"), col("n_chunk_tokens"), col("chunk"))
    }),

    // Benchmark decontamination (Decontaminate): the "benchmark" is the
    // doc_id % 11 == 3 slice of the corpus itself, n=5 word grams. Every
    // benchmark doc is self-contaminated (planted truth) and the corpus's
    // planted near-dup classes cross-contaminate, so both branches are
    // non-vacuous. DuckDB recomputes contamination from raw strings
    // (gram self-join), independent of the engine's xxh64 index.
    "q_decontaminate" -> ((s, dir) => {
      val d = documents(s, dir)
      val bench = d.where(col("doc_id") % 11 === 3)
      val idx = Decontaminate.benchmarkIndex(bench, "text", 5)
      Decontaminate.flag(d, "text", idx, 5)
        .select(col("doc_id"), col("n_hits"), col("contaminated"))
    }),

    // FRACTIONAL decontamination (Decontaminate.overlapStats): keep while
    // ≤50% of a doc's distinct 5-grams hit the benchmark index. Planted
    // middle ground: docs with doc_id%11==4 get their PREDECESSOR's text
    // (a benchmark doc, %11==3) appended, contaminating roughly half
    // their grams — the 50% boundary then splits that class by relative
    // doc lengths, so the fraction (not just any-hit) is what the hash
    // gates. Benchmark docs themselves sit at ~100% (dropped), untouched
    // docs at ~0% (kept). Integer-exact predicate, zero-shuffle probe.
    "q_decontaminate_frac" -> ((s, dir) => {
      val d = documents(s, dir)
      val prev = d.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("ptext"))
      val corpus = d.join(prev, Seq("doc_id"), "left")
        .withColumn("text2",
          when(col("doc_id") % 11 === 4 && col("ptext").isNotNull,
            concat(col("text"), lit(" "), col("ptext")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("text2"))
      val bench = d.where(col("doc_id") % 11 === 3)
      val idx = Decontaminate.benchmarkIndex(bench, "text", 5)
      Decontaminate.overlapStats(corpus, "text2", idx, 5, 50)
        .select(col("doc_id"), col("n_grams"), col("n_hits"), col("keep"))
    }),

    // Weakly-supervised NB classifier (NbClassifier): the fasttext-style
    // "train a linear filter on weak labels, score the whole corpus" move
    // of CCNet/GPT-3/LLaMA pipelines. The synthetic corpus shares ONE
    // vocabulary across classes, so the class signal is PLANTED: each doc
    // gets 20 marker tokens drawn 70/30 ('qposw'/'qnegw') for the
    // positive class (doc_id%3==0) and 30/70 for the negative — an
    // overlapping mixture the model must out-weigh against ~200 neutral
    // base tokens, so both false positives and false negatives occur and
    // the hash gates a real decision boundary. Training (per-token class
    // counts), the bit-weight table, OOV weight, and per-doc scores are
    // ALL integer fixed-point — DuckDB replays the entire train+score
    // round trip, gating the model itself, not just the plumbing.
    "q_nb_classifier" -> ((s, dir) => {
      val d = documents(s, dir)
      val pos = col("doc_id") % 3 === 0
      // multiplicative (Knuth) hash per (doc, k) — NOT a modular cycle,
      // so marker counts vary binomially doc-to-doc and the 70/30 vs
      // 30/70 mixtures overlap: the trained model misclassifies a few
      // docs on both sides (checked non-vacuous at sf0.01)
      val planted = concat_ws(" ", transform(sequence(lit(0), lit(19)),
        k => when(((col("doc_id") + 1) * (k + 7) * 2654435761L) % 100 <
            when(pos, lit(70)).otherwise(lit(30)),
          lit("qposw")).otherwise(lit("qnegw"))))
      val d2 = d.select(col("doc_id"),
        concat(col("text"), lit(" "), planted).as("text2"), pos.as("pos"))
      NbClassifier.trainAndScore(d2, "doc_id", "text2", "pos")
        .select(col("doc_id"), col("n_tokens"), col("score_bits"), col("pred"))
    }),

    // Int8-quantized ANN (Ann.quantizeInt8 + int8TopK): the 4×-smaller
    // index scan. Quantization (floor(v/max|v|·127 + 0.5)) is IEEE-double
    // on float32 inputs and the dots are exact Longs, so DuckDB replays
    // quantization, dot products, and (dot desc, id asc) ranking
    // end-to-end — the hash gates the quantizer's exact rounding.
    "q_ann_int8" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val qz = Ann.quantizeInt8(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")))
      val q = qz.where(col("id") % 40 === 0)
        .select(col("id").as("qid"), col("qvec"))
      Ann.int8TopK(q, qz.select(col("id"), col("qvec")), 5)
        .select(col("qid").as("vec_id"), col("rank").cast("long").as("rnk"),
          col("neighbor_id"), col("sim").cast("long").as("dot_q"))
    }),

    // Quantized-serving composition (Ann.int8RerankTopK): int8 shortlist
    // of 12 per query (the 4×-smaller scan), exact float cosine re-rank
    // to top-3. The oracle replays BOTH stages — integer shortlist
    // membership and float re-rank order — so the hash gates the
    // composition, including which candidates the quantized stage admits.
    "q_ann_int8_rerank" -> ((s, dir) => {
      val e = embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.int8RerankTopK(e, col("id") % 40 === 0, 3, 12)
        .select(col("qid").as("vec_id"), col("rank").cast("long").as("rnk"),
          col("neighbor_id"))
    }),

    // Corpus similarity profile: histogram of exact trigram-Jaccard over
    // all ≥0.5 pairs, bucketed by integer decile (inter*10 DIV uni — both
    // sides integer-exact, no float boundary ambiguity). This is the
    // "how duplicated is my crawl, and how near are the near-dups" audit
    // a corpus owner runs before picking a dedup threshold; the engine
    // side is the same prefix-filtered SSJoin (recall 1.0), so the row
    // also gates the prefix filter at a LOWER threshold than the 0.7 the
    // other rows exercise (weaker filter, more candidates — a different
    // regime of the same plan). Oracle recomputes brute-force.
    "q_sim_histogram" -> ((s, dir) => {
      val g = documents(s, dir)
        .where(nTokens(col("text")) >= 5)
        .select(col("doc_id").as("id"), triGramHashes(col("text")).as("toks"))
      SSJoin.pairs(g, 0.5)
        .withColumn("sim_decile", expr("inter * 10 DIV uni"))
        .groupBy(col("sim_decile"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("sim_decile"), col("n_pairs"))
    }),

    // SCALE-SAFE similarity profile — the headline form of the audit. At
    // t=0.5 the prefix filter keeps ~half of every token set, so exact
    // candidate volume degrades toward quadratic on self-similar corpora,
    // and the TRUE output ("all pairs ≥0.5") is itself quadratic in
    // cluster size — the exact form above is correct but the wrong shape
    // to run corpus-wide. The audit needs the histogram's SHAPE (pick a
    // dedup threshold), not every pair: a deterministic md5 Bernoulli doc
    // sample at rate p=1/4 keeps each pair with probability p²=1/16, so
    // n_pairs_est = n_pairs·16 is unbiased per bucket with the
    // closed-form integer scale-up. The sample is a pure projection of
    // doc_id (Sampling.hashUnit), so DuckDB replays the IDENTICAL sample
    // and brute-forces the same histogram — the estimate column is gated
    // too. Candidate volume and memory scale by p² vs the exact form
    // (measured at sf0.1: 310k → 14k candidates); at production scale p
    // drops to 0.01-0.1 and the bound tightens by 10⁴-10⁶ (SCALE.md row).
    "q_sim_histogram_sampled" -> ((s, dir) => {
      val g = documents(s, dir)
        .where(nTokens(col("text")) >= 5)
        // hashUnit < 2^30 ⇔ rate 1/4, exact in binary in both engines
        .where(Sampling.hashUnit(col("doc_id").cast("string")) < 1073741824L)
        .select(col("doc_id").as("id"), triGramHashes(col("text")).as("toks"))
      SSJoin.pairs(g, 0.5)
        .withColumn("sim_decile", expr("inter * 10 DIV uni"))
        .groupBy(col("sim_decile"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("sim_decile"), col("n_pairs"),
          (col("n_pairs") * 16L).as("n_pairs_est"))
    }),

    // Cross-corpus n-gram novelty (TextAnalysis.ngramNovelty): per doc,
    // how many of its distinct trigrams appear in ANY other document —
    // the boilerplate/template signal that doc-level dedup misses (no
    // single pair is similar enough, but every n-gram is secondhand).
    // Engine runs on hashed sets (cardinalities are hash-invariant, the
    // q_sim_histogram argument); DuckDB replays on raw string grams.
    "q_novelty" -> ((s, dir) => {
      val d = documents(s, dir)
        .where(nTokens(col("text")) >= 5)
        .select(col("doc_id").as("id"), triGramHashes(col("text")).as("set"))
      TextAnalysis.ngramNovelty(d, "id", "set")
        .select(col("id").as("doc_id"), col("n_grams"), col("n_shared"),
          col("novelty_per_mille"))
    }),

    // Pipeline metrics rows (north-rule: "metrics rows" as first-class
    // output): per-language input/removed/kept accounting across the
    // exact (md5) and fuzzy (flagship MinHash-LSH+verify+CC) stages in
    // one pass — the per-stage lineage a 100-TB run logs to its
    // checkpoint store, here as an oracle-gated query. A doc is an
    // exact-dup iff it is not the min-id of its md5 group, a fuzzy-dup
    // iff its component rep is a smaller id (the FuzzyDedup.kept rule).
    "q_dedup_summary" -> ((s, dir) => {
      val d = documents(s, dir)
      val a = FuzzyDedup.assignments(d, docCfg)
      // engine's own ExactDedup.assignments (groupBy+join), not a window
      // over the md5 key — identical output, hot-group-safe at web scale
      val ek = ExactDedup.assignments(d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("component").as("ek"))
      d.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .join(ek, Seq("doc_id"))
        .join(a, col("doc_id") === col("id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("ek"), 1L).otherwise(0L)).as("n_exact_dup"),
          sum(when(col("component") < col("doc_id"), 1L).otherwise(0L)).as("n_fuzzy_dup"),
          sum(when(col("component") >= col("doc_id"), 1L).otherwise(0L)).as("n_kept"))
        .select(col("lang"), col("n_docs"), col("n_exact_dup"),
          col("n_fuzzy_dup"), col("n_kept"))
    }),

    // Cross-language duplicate components: flagship clusters whose members
    // carry >1 distinct lang label — the template-spam / boilerplate /
    // lang-id-misroute signal (identical pages served under different
    // lang routes survive per-language dedup silently; this surfaces
    // them). The fixture corpus plants dups within-lang only (checked:
    // zero cross-lang md5 groups at every sf), so the query plants its
    // own: byte-identical copies of every 7th matchable doc under a
    // synthetic 'xx' lang route — copy and original provably share a
    // component (jaccard 1), so multi-lang clusters exist by
    // construction and the oracle (recursive CC over the same augmented
    // corpus) is non-vacuous and falsifiable. Output: one row per
    // multi-lang component with its size and lang spread.
    "q_cross_lang_dup" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val off = 10000000L
      val copies = d
        .where(col("doc_id") % 7 === 0 && nTokens(col("text")) >= 5)
        .select((col("doc_id") + off).as("doc_id"), col("text"),
          lit("xx").as("lang"))
      val d2 = d.unionByName(copies)
      FuzzyDedup.assignments(d2, docCfg)
        .join(d2.select(col("doc_id").as("id"), col("lang")), "id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("lang")).as("lang_min"),
          max(col("lang")).as("lang_max"))
        .where(col("n_langs") > 1)
        .select(col("component"), col("n_docs"), col("n_langs"),
          col("lang_min"), col("lang_max"))
    })
  )

  /** Bench-only production-config variants (VERDICT r2 #4). The
    * CORRECTNESS versions of q_simhash_assign / q_suffix_assign
    * deliberately run the provable-recall topology (salt 1, all-pairs
    * buckets) — and, for simhash, an O(n²) in-Spark brute-force twin —
    * because that is what makes their DuckDB rows hash-checkable. Benching
    * those times the oracle machinery, not the engine (r2: most of
    * q_simhash_assign's 4.3 s was the all-pairs twin, a scale-killer
    * inside a headline). These overrides run the production path at
    * docCfg (salted star topology, exact verification, no oracle twin);
    * PlanSpec asserts their plans contain no cartesian product. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ Map(
      "q_simhash_assign" -> ((s, dir) => {
        val d = documents(s, dir)
        val cfgQ = docCfg.copy(hammingK = 3)
        val edges = SimHash.verifiedEdges(Lsh.shingleSets(d, cfgQ), cfgQ)
          .select(col("src"), col("dst"))
        ConnectedComponents.assignAll(d.select(col("doc_id").as("id")),
          ConnectedComponents.runAdaptive(edges))
      }),
      "q_suffix_assign" -> ((s, dir) => {
        val d = documents(s, dir)
        val edges = SuffixDedup.verifiedEdges(d, docCfg.copy(suffixMinRun = 120))
        ConnectedComponents.assignAll(d.select(col("doc_id").as("id")),
          ConnectedComponents.runAdaptive(edges.select(col("src"), col("dst"))))
      }),
      "q_remove_runs" -> ((s, dir) => {
        SuffixDedup.removeRuns(documents(s, dir), docCfg.copy(suffixMinRun = 120))
          .select(col("id").as("doc_id"), col("text_clean"), col("n_removed"))
      }))

  /** Exact trigram-Jaccard≥0.7 duplicate graph + recursive-CTE connected
    * components — the assumption-free oracle for the fuzzy queries. */
  private val fuzzyCcSql: String =
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |grams AS (SELECT doc_id,
      |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
      |  FROM toks),
      |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM grams a JOIN grams b
      |  ON a.doc_id < b.doc_id
      |  AND len(list_intersect(a.g, b.g)) * 10 >=
      |      (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) * 7),
      |sym AS (SELECT pa AS u, pb AS v FROM pairs UNION SELECT pb, pa FROM pairs),
      |reach AS (SELECT doc_id AS id, doc_id AS r FROM documents
      |  UNION
      |  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
      |""".stripMargin

  /** DuckDB-equivalent SQL per query (driver runs these on the same parquet
    * tables at sf0.01 and hash-compares). Texts in `documents` are
    * [a-z0-9 ]-only, so the engine tokenizer (unicode \W, empties kept)
    * coincides with string_split(text, ' ') — asserted in the test-suite.
    * All numeric outputs are BIGINT on both sides; floats appear only
    * inside threshold/ranking predicates, never as output columns. */
  def oracleSql: Map[String, String] = Map(
    "q_exact_dedup_rep" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS group_n
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_exact_kept" ->
      """SELECT doc_id, lang, source, n_chars FROM
        |(SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS k FROM documents)
        |WHERE doc_id = k""".stripMargin,
    "q_minlen_filter" ->
      """SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |FROM documents WHERE len(string_split(text, ' ')) >= 5""".stripMargin,
    "q_token_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |sum(len(string_split(text, ' ')))::BIGINT AS sum_tokens,
        |sum(length(text))::BIGINT AS sum_chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    "q_ngram_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |grams AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.g, b.g))::BIGINT AS inter,
        |  (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))::BIGINT AS uni
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, inter, uni FROM pairs WHERE inter * 10 >= uni * 7""".stripMargin,
    "q_cc_chain" ->
      """SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY lang, source) AS component
        |FROM documents""".stripMargin,
    "q_fuzzy_assign" ->
      (fuzzyCcSql +
        """SELECT d.doc_id AS id, coalesce(c.component, d.doc_id) AS component
          |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin),
    "q_ssjoin_assign" ->
      (fuzzyCcSql +
        """SELECT d.doc_id AS id, coalesce(c.component, d.doc_id) AS component
          |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin),
    "q_best_rep" ->
      (fuzzyCcSql +
        """SELECT component, id AS keep_id, q AS quality, group_n FROM (
          |  SELECT t.*, count(*) OVER (PARTITION BY component) AS group_n,
          |    row_number() OVER (PARTITION BY component ORDER BY q DESC, id ASC) AS rn
          |  FROM (SELECT d.doc_id AS id,
          |          coalesce(c.component, d.doc_id) AS component,
          |          len(string_split(d.text, ' '))::BIGINT AS q
          |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id) t)
          |WHERE rn = 1""".stripMargin),
    "q_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |grams AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.g, b.g))::BIGINT AS inter, len(a.g)::BIGINT AS len_a
        |FROM grams a JOIN grams b ON a.doc_id != b.doc_id
        |WHERE len(list_intersect(a.g, b.g)) * 10 >= len(a.g) * 9""".stripMargin,
    "q_contain_kept" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |grams AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, len(a.g) AS la, b.doc_id AS id_b, len(b.g) AS lb
        |  FROM grams a JOIN grams b ON a.doc_id != b.doc_id
        |  WHERE len(list_intersect(a.g, b.g)) * 10 >= len(a.g) * 9)
        |SELECT t.doc_id FROM toks t WHERE NOT EXISTS (
        |  SELECT 1 FROM pairs p WHERE p.id_a = t.doc_id
        |    AND (p.lb > p.la OR (p.lb = p.la AND p.id_b < p.id_a)))""".stripMargin,
    "q_cluster_sizes" ->
      (fuzzyCcSql +
        """, sizes AS (SELECT coalesce(c.component, d.doc_id) AS comp, count(*)::BIGINT AS cluster_size
          |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id GROUP BY 1)
          |SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM sizes GROUP BY 1""".stripMargin),
    "q_fuzzy_kept" ->
      (fuzzyCcSql +
        """SELECT d.doc_id, d.lang, d.source, d.n_chars
          |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
          |WHERE coalesce(c.component, d.doc_id) >= d.doc_id""".stripMargin),

    // Components via the recursive CTE, cluster sizes, one truncating div.
    "q_soft_dedup" ->
      (fuzzyCcSql +
        """, fz AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
          |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
          |cs AS (SELECT component, count(*)::BIGINT AS csize FROM fz GROUP BY 1)
          |SELECT f.doc_id, f.component, cs.csize,
          |  (1000000 // cs.csize)::BIGINT AS weight_ppm
          |FROM fz f JOIN cs USING (component)""".stripMargin),

    // Distinct raw-string trigrams per lang, counted per lang pair.
    "q_lang_overlap" ->
      """WITH toks AS (SELECT lang, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |grams AS (SELECT lang,
        |  unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)])) AS g
        |  FROM toks),
        |gl AS (SELECT DISTINCT lang, g FROM grams)
        |SELECT a.lang AS lang_a, b.lang AS lang_b, count(*)::BIGINT AS n_shared_grams
        |FROM gl a JOIN gl b ON a.g = b.g AND a.lang < b.lang
        |GROUP BY 1, 2""".stripMargin,
    "q_simhash_assign" ->
      """SELECT doc_id, 1::BIGINT AS ok FROM documents""".stripMargin,
    "q_lsh_bands" ->
      """SELECT doc_id, 25::BIGINT AS n_bands FROM documents
        |WHERE len(string_split(text, ' ')) >= 5""".stripMargin,
    "q_suffix_assign" ->
      """WITH RECURSIVE grams AS (
        |  SELECT doc_id, unnest([substr(text, i, 120) for i in range(1, length(text) - 119)]) AS g
        |  FROM documents WHERE length(text) >= 120),
        |pairs AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
        |sym AS (SELECT pa AS u, pb AS v FROM pairs UNION SELECT pb, pa FROM pairs),
        |reach AS (SELECT doc_id AS id, doc_id AS r FROM documents
        |  UNION
        |  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT id, component FROM comp""".stripMargin,
    "q_dup_rank" ->
      """SELECT lang, source, doc_id, rnk FROM
        |(SELECT lang, source, doc_id,
        |  row_number() OVER (PARTITION BY lang, source
        |                     ORDER BY n_chars DESC, doc_id ASC) AS rnk
        | FROM documents)
        |WHERE rnk <= 2""".stripMargin,
    "q_ordered_id" ->
      """SELECT doc_id, (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS ord
        |FROM documents""".stripMargin,
    "q_lang_split" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |count(DISTINCT md5(text))::BIGINT AS n_kept
        |FROM documents GROUP BY lang""".stripMargin,
    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |  list_cosine_similarity(a.v, b.v) AS sim
        |  FROM e a JOIN e b ON a.vec_id != b.vec_id WHERE a.vec_id < 50),
        |ranked AS (SELECT vec_id, neighbor_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        |  FROM scored)
        |SELECT vec_id, rnk, neighbor_id FROM ranked WHERE rnk <= 3""".stripMargin,
    "q_ann_ivf" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |  list_cosine_similarity(a.v, b.v) AS sim
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id),
        |ranked AS (SELECT vec_id, neighbor_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        |  FROM scored)
        |SELECT vec_id, rnk, neighbor_id FROM ranked WHERE rnk <= 3""".stripMargin,
    "q_incremental_sem" ->
      """WITH corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
        |batch AS (
        |  SELECT id + 1000000 AS id,
        |    CASE WHEN id % 4 = 0 THEN vec
        |         ELSE list_transform(vec, x -> -x) END AS vec
        |  FROM corpus WHERE id % 2 = 0)
        |SELECT b.id AS vec_id FROM batch b WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus c
        |  WHERE list_cosine_similarity(b.vec, c.vec) >= 0.95)""".stripMargin,

    // Match set from id arithmetic: every non-rep member of a duplicate
    // class is flagged against the class's (ts, id)-min rep at estimate
    // exactly 1.0 (identical signatures, b=32 lanes).
    "q_stream_fuzzy_batch" ->
      """WITH d AS (SELECT doc_id, doc_id % 16 AS cls,
        |    1700000000 + (doc_id * 37) % 101 AS tss FROM documents),
        |r AS (SELECT cls, doc_id AS rep FROM (
        |    SELECT cls, doc_id,
        |      row_number() OVER (PARTITION BY cls ORDER BY tss, doc_id) AS rn
        |    FROM d) WHERE rn = 1)
        |SELECT d.doc_id AS id, r.rep AS "dupOf", CAST(1.0 AS DOUBLE) AS est
        |FROM d JOIN r USING (cls) WHERE d.doc_id <> r.rep""".stripMargin,

    "q_stream_sem_batch" ->
      """WITH d AS (SELECT doc_id, doc_id % 16 AS cls,
        |    1700000000 + (doc_id * 53) % 97 AS tss FROM documents),
        |r AS (SELECT cls, doc_id AS rep FROM (
        |    SELECT cls, doc_id,
        |      row_number() OVER (PARTITION BY cls ORDER BY tss, doc_id) AS rn
        |    FROM d) WHERE rn = 1)
        |SELECT d.doc_id AS id, r.rep AS "dupOf", CAST(1.0 AS DOUBLE) AS cosine
        |FROM d JOIN r USING (cls) WHERE d.doc_id <> r.rep""".stripMargin,

    "q_embed_dedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM e a JOIN e b
        |  ON a.vec_id < b.vec_id AND list_cosine_similarity(a.v, b.v) >= 0.4),
        |sym AS (SELECT pa AS u, pb AS v FROM pairs UNION SELECT pb, pa FROM pairs),
        |reach AS (SELECT vec_id AS id, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT id, component FROM comp""".stripMargin,
    "q_embed_dedup_lsh" ->
      """WITH RECURSIVE base AS (SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT id, v FROM base
        |  UNION ALL SELECT id + 1000000, v FROM base WHERE id < 50),
        |pairs AS (SELECT a.id AS pa, b.id AS pb FROM e a JOIN e b
        |  ON a.id < b.id AND list_cosine_similarity(a.v, b.v) >= 0.95),
        |sym AS (SELECT pa AS u, pb AS v FROM pairs UNION SELECT pb, pa FROM pairs),
        |reach AS (SELECT id, id AS r FROM e
        |  UNION
        |  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT id, component FROM comp""".stripMargin,
    "q_semdedup" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT a.vec_id AS vec_id, max(list_cosine_similarity(a.v, b.v)) AS ms
        |  FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
        |  GROUP BY a.vec_id)
        |SELECT e.vec_id, coalesce(m.ms >= 0.4, false)::BIGINT AS removed
        |FROM e LEFT JOIN m ON e.vec_id = m.vec_id""".stripMargin,
    "q_quality" ->
      """SELECT doc_id,
        |len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
        |len(list_distinct(string_split_regex(trim(text), '\s+')))::BIGINT AS n_distinct_tokens,
        |(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS n_digits,
        |(len(string_split_regex(trim(text), '\s+')) < 5)::BIGINT AS is_short
        |FROM documents""".stripMargin,
    // stopword-count argmax replicated in SQL: scores for de/en/es/fr over
    // the same public stopword lists (TextAnalysis.StopWords); zh/hi score
    // 0 on this ascii corpus. Ties resolve to the alphabetically first
    // language (the UDF iterates languages sorted and replaces on strict >).
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id,
        |  [x for x in string_split(text, ' ') if x != ''][1:512] AS w FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(w, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','von'], x))) AS sde,
        |  len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS sen,
        |  len(list_filter(w, x -> list_contains(['el','la','los','y','es','un','una','de','que','por'], x))) AS ses,
        |  len(list_filter(w, x -> list_contains(['le','la','les','et','est','un','une','de','que','pour'], x))) AS sfr
        |  FROM t)
        |SELECT doc_id, CASE
        |  WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
        |  WHEN sde >= sen AND sde >= ses AND sde >= sfr THEN 'de'
        |  WHEN sen >= ses AND sen >= sfr THEN 'en'
        |  WHEN ses >= sfr THEN 'es'
        |  ELSE 'fr' END AS pred_lang
        |FROM s""".stripMargin,
    // polynomial rolling hash mod 2^31−1, base 31, over the characters
    "q_fingerprint" ->
      """SELECT doc_id,
        |list_reduce(list_prepend(0::BIGINT, [ascii(x)::BIGINT for x in string_split(text, '') if x != '']),
        |  (a, b) -> (a * 31 + b) % 2147483647)::BIGINT AS fp
        |FROM documents""".stripMargin,
    "q_token_bpe" ->
      """SELECT doc_id,
        |len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_bpe
        |FROM documents""".stripMargin,

    "q_repetition" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN text || ' ' || text ELSE text END AS text
        |  FROM documents
        |), words AS (
        |  SELECT a.doc_id, CAST(t.i AS INT) AS pos, a.w[CAST(t.i AS INT)] AS word
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM aug) a,
        |       LATERAL (SELECT unnest(generate_series(1, len(a.w))) AS i) t
        |  WHERE a.w[CAST(t.i AS INT)] != ''
        |), g2 AS (
        |  SELECT doc_id, pos, word || ' ' || lead(word, 1) OVER w AS gram
        |  FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(word, 1) OVER w IS NOT NULL
        |), top2 AS (
        |  SELECT doc_id, c * gchars AS top_2_chars FROM (
        |    SELECT doc_id, count(*) AS c, length(gram) - 1 AS gchars, gram,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY count(*) DESC, length(gram) - 1 DESC, gram ASC) AS rn
        |    FROM g2 GROUP BY doc_id, gram)
        |  WHERE rn = 1
        |), g5 AS (
        |  SELECT doc_id, pos,
        |    word || ' ' || lead(word,1) OVER w || ' ' || lead(word,2) OVER w || ' '
        |      || lead(word,3) OVER w || ' ' || lead(word,4) OVER w AS gram
        |  FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(word,4) OVER w IS NOT NULL
        |), dupg AS (
        |  SELECT doc_id, gram FROM g5 GROUP BY doc_id, gram HAVING count(*) > 1
        |), cov AS (
        |  SELECT DISTINCT g.doc_id, g.pos + o.k AS cpos
        |  FROM g5 g JOIN dupg d USING (doc_id, gram),
        |       LATERAL (SELECT unnest(generate_series(0, 4)) AS k) o
        |), dup5 AS (
        |  SELECT c.doc_id, sum(length(w.word)) AS dup_5_chars
        |  FROM cov c JOIN words w ON w.doc_id = c.doc_id AND w.pos = c.cpos
        |  GROUP BY c.doc_id
        |), totals AS (
        |  SELECT doc_id, sum(length(word)) AS n_word_chars FROM words GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(t.n_word_chars AS BIGINT) AS n_word_chars,
        |  CAST(coalesce(top2.top_2_chars, 0) AS BIGINT) AS top_2_chars,
        |  CAST(coalesce(dup5.dup_5_chars, 0) AS BIGINT) AS dup_5_chars
        |FROM totals t LEFT JOIN top2 USING (doc_id) LEFT JOIN dup5 USING (doc_id)""".stripMargin,

    "q_norm_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, '  ' || upper(text) || '!!'
        |  FROM documents WHERE doc_id % 9 = 0
        |), norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]+', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM aug
        |)
        |SELECT doc_id, min(doc_id) OVER (PARTITION BY nt) AS component
        |FROM norm""".stripMargin,

    "q_char_lm" ->
      """WITH bg AS (
        |  SELECT d.doc_id, substr(d.text, CAST(t.i AS INT), 2) AS b
        |  FROM documents d,
        |       LATERAL (SELECT unnest(generate_series(1, length(d.text)-1)) AS i) t
        |  WHERE length(d.text) >= 2
        |), cnt AS (
        |  SELECT b, count(*) AS c FROM bg GROUP BY b
        |)
        |SELECT bg.doc_id,
        |  count(*)::BIGINT AS n_bigrams,
        |  CAST(sum(cnt.c) AS BIGINT) AS familiarity
        |FROM bg JOIN cnt USING (b) GROUP BY bg.doc_id""".stripMargin,

    "q_ppl_buckets" ->
      """WITH bg AS (
        |  SELECT d.doc_id, substr(d.text, CAST(t.i AS INT), 2) AS b
        |  FROM documents d,
        |       LATERAL (SELECT unnest(generate_series(1, length(d.text)-1)) AS i) t
        |  WHERE length(d.text) >= 2
        |), cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
        |st AS (SELECT bg.doc_id, count(*) AS nb, sum(cnt.c) AS fam
        |       FROM bg JOIN cnt USING (b) GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id, coalesce(d.lang, '__null__') AS lang,
        |    coalesce(CAST(st.fam AS DOUBLE) / st.nb, 0.0) AS score
        |  FROM documents d LEFT JOIN st USING (doc_id)
        |), ranked AS (
        |  SELECT doc_id, lang, score,
        |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) - 1 AS lang_rank,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored)
        |SELECT doc_id, lang, lang_rank::BIGINT AS lang_rank,
        |  CASE WHEN score = 0 THEN 'tail'
        |       WHEN (lang_rank * 3) // n = 0 THEN 'head'
        |       WHEN (lang_rank * 3) // n = 1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ranked""".stripMargin,

    "q_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, coalesce(nullif(lang, ''), '__null__') AS source,
        |         len(string_split(text, ' '))::BIGINT AS ntok
        |  FROM documents
        |),
        |t AS (
        |  SELECT source, sum(ntok)::BIGINT AS T,
        |         (((ascii(substr(source, 1, 1)) % 5) + 1) * 100000)::BIGINT AS w
        |  FROM d GROUP BY source
        |),
        |a AS (SELECT sum(w)::BIGINT AS wsum, max(w)::BIGINT AS maxw,
        |             min(T)::BIGINT AS mint FROM t),
        |r AS (
        |  SELECT t.source,
        |         (((a.mint * a.wsum) // (2 * a.maxw)) * t.w * 1000000)
        |           // (a.wsum * t.T) AS rate_ppm
        |  FROM t, a
        |)
        |SELECT d.doc_id, d.source, r.rate_ppm
        |FROM d JOIN r ON d.source = r.source
        |WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::UINT64)::BIGINT
        |        * 1000000 < r.rate_ppm * 4294967296""".stripMargin,

    "q_cdc_pairs" -> cdcOracle(cdcPairKExpr,
      """,
        |content0 AS (
        |  SELECT c.doc_id, c.start, string_agg(chr(b.b::INT), '' ORDER BY b.pos) AS s
        |  FROM chunks c JOIN byt b
        |    ON b.doc_id = c.doc_id AND b.pos BETWEEN c.start AND c.start + c.len - 1
        |  GROUP BY c.doc_id, c.start, c.len
        |),
        |content AS (SELECT DISTINCT doc_id, s FROM content0),
        |sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM content GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS i
        |  FROM content a JOIN content b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT i.id_a, i.id_b, (i.i * 10) // (sa.n + sb.n - i.i) AS sim_decile
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.id_a
        |JOIN sizes sb ON sb.doc_id = i.id_b
        |WHERE 2 * i.i >= sa.n + sb.n - i.i""".stripMargin),

    // The CDC oracles replay the engine's gear rolling hash with a
    // recursive CTE: h(pos) = (2·h(pos-1) + ((byte+1)·2654435761 mod 2³²))
    // mod 2³², boundary after pos when h ≡ 0 (mod 32), forced final end
    // at 767. Chunk content is rebuilt with chr()/string_agg for the
    // dedup grouping (the engine's xxh64 key has the same equivalence
    // classes unless the hash is broken).
    "q_cdc_chunks" -> cdcOracle(cdcPlantedKExpr,
      """SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |       sum((start + 1) * len)::BIGINT AS bsum
        |FROM chunks GROUP BY doc_id""".stripMargin),

    "q_cdc_dedup" -> cdcOracle(cdcPlantedKExpr,
      """,
        |content AS (
        |  SELECT c.doc_id, c.start, c.len,
        |         string_agg(chr(b.b::INT), '' ORDER BY b.pos) AS s
        |  FROM chunks c JOIN byt b
        |    ON b.doc_id = c.doc_id AND b.pos BETWEEN c.start AND c.start + c.len - 1
        |  GROUP BY c.doc_id, c.start, c.len
        |),
        |ranked AS (
        |  SELECT doc_id, len,
        |         row_number() OVER (PARTITION BY s ORDER BY doc_id, start) AS rk
        |  FROM content
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_chunks, sum(len)::BIGINT AS n_bytes,
        |       sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks,
        |       sum(CASE WHEN rk > 1 THEN len ELSE 0 END)::BIGINT AS dup_bytes
        |FROM ranked GROUP BY doc_id""".stripMargin),

    "q_domain_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(list_distinct(string_split_regex(trim(text), '\s+'))) END::BIGINT AS n_distinct,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(list_filter(string_split_regex(trim(text), '\s+'),
        |                              x -> regexp_matches(x, '\p{L}'))) END::BIGINT AS n_alpha,
        |    length(text)::BIGINT AS n_chars,
        |    length(regexp_replace(text, '\s', '', 'g'))::BIGINT AS n_nonspace,
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS n_digits
        |  FROM documents),
        |k AS (
        |  SELECT 'www.site' || (doc_id % 50) || '.example.com' AS host, n_tokens,
        |    (n_tokens >= 50 AND n_tokens <= 100000
        |     AND n_tokens > 0 AND n_nonspace >= n_tokens * 3 AND n_nonspace <= n_tokens * 10
        |     AND n_alpha * 1000 >= n_tokens * 800
        |     AND n_digits * 1000 <= n_chars * 200
        |     AND n_distinct * 1000 >= n_tokens * 300) AS keep
        |  FROM f)
        |SELECT host, count(*)::BIGINT AS docs,
        |  sum(keep::INT)::BIGINT AS pass_docs,
        |  sum(n_tokens)::BIGINT AS tokens,
        |  (sum(keep::INT)::BIGINT * 1000) // count(*) AS pass_per_mille
        |FROM k GROUP BY host""".stripMargin,

    "q_html_text" ->
      """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS extracted
        |FROM documents""".stripMargin,

    "q_url_host" ->
      """SELECT doc_id,
        |  'www.site' || (doc_id % 50) || '.example.com' AS host,
        |  'example.com' AS domain,
        |  'https://user@www.site' || (doc_id % 50) || '.example.com/p/'
        |    || doc_id || '?x=1' AS url_norm
        |FROM documents""".stripMargin,

    "q_link_graph" ->
      """WITH e AS (
        |  SELECT DISTINCT 's' || (doc_id % 9) || '.example.com' AS src_host,
        |                  'h' || (doc_id % 7) || '.example.org' AS dst_host
        |  FROM documents
        |  UNION
        |  SELECT DISTINCT 's' || (doc_id % 9) || '.example.com',
        |                  'h' || ((doc_id + 3) % 5) || '.example.net'
        |  FROM documents
        |), od AS (SELECT src_host AS host, count(*) AS out_deg FROM e GROUP BY 1),
        |   ind AS (SELECT dst_host AS host, count(*) AS in_deg FROM e GROUP BY 1)
        |SELECT coalesce(od.host, ind.host) AS host,
        |       coalesce(out_deg, 0)::BIGINT AS out_deg,
        |       coalesce(in_deg, 0)::BIGINT AS in_deg
        |FROM od FULL OUTER JOIN ind ON od.host = ind.host""".stripMargin,

    "q_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT 's' || (doc_id % 9) || '.example.com' AS src_host,
        |                  'h' || (doc_id % 7) || '.example.org' AS dst_host
        |  FROM documents
        |  UNION
        |  SELECT DISTINCT 's' || (doc_id % 9) || '.example.com',
        |                  'h' || ((doc_id + 3) % 5) || '.example.net'
        |  FROM documents
        |), v AS (
        |  SELECT DISTINCT host FROM (
        |    SELECT src_host AS host FROM e UNION ALL SELECT dst_host FROM e)
        |), deg AS (SELECT src_host, count(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS r FROM v),
        |s1 AS (
        |  SELECT e.dst_host AS host, sum(r0.r // deg.d) AS s
        |  FROM e JOIN deg USING (src_host) JOIN r0 ON r0.host = e.src_host
        |  GROUP BY 1
        |), r1 AS (
        |  SELECT v.host, 150000 + (850 * coalesce(s1.s, 0)) // 1000 AS r
        |  FROM v LEFT JOIN s1 USING (host)
        |), s2 AS (
        |  SELECT e.dst_host AS host, sum(r1.r // deg.d) AS s
        |  FROM e JOIN deg USING (src_host) JOIN r1 ON r1.host = e.src_host
        |  GROUP BY 1
        |), r2 AS (
        |  SELECT v.host, 150000 + (850 * coalesce(s2.s, 0)) // 1000 AS r
        |  FROM v LEFT JOIN s2 USING (host)
        |)
        |SELECT host, r::BIGINT AS rank_fp FROM r2""".stripMargin,

    "q_anchor_text" ->
      """WITH l AS (
        |  SELECT 'h' || (doc_id % 7) || '.example.org' AS host,
        |         'ref ' || (doc_id % 4) || ' & more' AS anchor
        |  FROM documents
        |  UNION ALL
        |  SELECT 'h' || ((doc_id + 3) % 5) || '.example.net',
        |         'bold site ' || (doc_id % 3)
        |  FROM documents
        |), pa AS (SELECT host, anchor, count(*) AS cnt FROM l GROUP BY 1, 2),
        |agg AS (SELECT host, sum(cnt)::BIGINT AS n_links,
        |               count(*)::BIGINT AS n_anchors FROM pa GROUP BY 1),
        |top AS (SELECT host, anchor AS top_anchor FROM (
        |  SELECT host, anchor,
        |    row_number() OVER (PARTITION BY host ORDER BY cnt DESC, anchor ASC) AS rn
        |  FROM pa) WHERE rn = 1)
        |SELECT agg.host, n_links, n_anchors, top_anchor
        |FROM agg JOIN top USING (host)""".stripMargin,

    "q_nfc_norm" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769) ELSE '' END ||
        |    CASE WHEN doc_id % 6 = 0 THEN ' ' || chr(8491) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t) AS text_nfc,
        |       (nfc_normalize(t) != t) AS changed
        |FROM aug""".stripMargin,

    "q_main_content" ->
      """SELECT doc_id,
        |  'Body content for doc ' || doc_id ||
        |  ' lorem ipsum lorem ipsum lorem ipsum lorem ipsum lorem ipsum' ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN chr(10) || 'Extra analysis paragraph reserved for every third document with sufficient length to clear the gate.'
        |       ELSE '' END ||
        |  chr(10) || 'Read the full analysis at this link which has plenty of surrounding prose for doc '
        |  || doc_id || ' to pass the length gate.' AS main
        |FROM documents""".stripMargin,

    "q_url_dedup" ->
      """SELECT d.doc_id, m.component FROM documents d
        |JOIN (SELECT doc_id % 80 AS g, min(doc_id) AS component
        |      FROM documents GROUP BY 1) m
        |ON d.doc_id % 80 = m.g""".stripMargin,

    "q_script_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
        |       AS BIGINT) AS n_latin,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 6 ELSE 0 END AS BIGINT) AS n_cyrillic,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 0 END AS BIGINT) AS n_cjk,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 0 END AS BIGINT) AS n_arabic,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 4 ELSE 0 END AS BIGINT) AS n_other_letter
        |FROM documents""".stripMargin,

    "q_quality_filter" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(list_distinct(string_split_regex(trim(text), '\s+'))) END::BIGINT AS n_distinct,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(list_filter(string_split_regex(trim(text), '\s+'),
        |                              x -> regexp_matches(x, '\p{L}'))) END::BIGINT AS n_alpha,
        |    length(text)::BIGINT AS n_chars,
        |    length(regexp_replace(text, '\s', '', 'g'))::BIGINT AS n_nonspace,
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS n_digits
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  (n_tokens >= 50 AND n_tokens <= 100000) AS ok_len,
        |  (n_tokens > 0 AND n_nonspace >= n_tokens * 3
        |     AND n_nonspace <= n_tokens * 10) AS ok_word_len,
        |  (n_alpha * 1000 >= n_tokens * 800) AS ok_alpha,
        |  (n_digits * 1000 <= n_chars * 200) AS ok_digits,
        |  (n_distinct * 1000 >= n_tokens * 300) AS ok_repetition,
        |  (ok_len AND ok_word_len AND ok_alpha AND ok_digits
        |     AND ok_repetition) AS keep
        |FROM f""".stripMargin,

    "q_line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    substr(text, 1, 40) AS l1,
        |    'boilerplate footer ' || (doc_id % 7) AS l2,
        |    substr(text, 41) AS l3
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, 0 AS pos, l1 AS line FROM d
        |  UNION ALL SELECT doc_id, 1, l2 FROM d
        |  UNION ALL SELECT doc_id, 2, l3 FROM d),
        |marked AS (
        |  SELECT doc_id, pos, line,
        |    CASE WHEN trim(line) = '' THEN TRUE
        |         ELSE row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
        |    END AS keep
        |  FROM lines)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS text_clean,
        |  count(*)::BIGINT AS n_lines,
        |  sum(keep::INT)::BIGINT AS n_kept
        |FROM marked GROUP BY doc_id""".stripMargin,

    "q_pii_redact" ->
      """SELECT doc_id,
        |  substr(text, 1, 30) || ' contact <EMAIL> or <IP> call <PHONE> done' AS redacted,
        |  1::BIGINT AS n_emails, 1::BIGINT AS n_ips, 1::BIGINT AS n_phones
        |FROM documents""".stripMargin,

    "q_incremental" ->
      """WITH existing AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT * FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT * REPLACE (doc_id + 10000000 AS doc_id) FROM existing
        |  WHERE doc_id % 97 = 1)
        |SELECT b.doc_id, b.lang, b.n_chars FROM batch b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM existing e WHERE md5(e.text) = md5(b.text))""".stripMargin,

    "q_domain_cap" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY doc_id % 13 ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin,

    "q_top_words" ->
      """SELECT word, count(*)::BIGINT AS n FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY n DESC, word ASC
        |LIMIT 100""".stripMargin,

    // Bit-exact HLL register replay: 60-bit md5 hash, top 9 bits bucket,
    // rank = leading zeros of the 51-bit suffix + 1 via length(bin(w)) —
    // integer-only in both engines.
    "q_hll_words" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |h AS (SELECT ('0x' || substr(md5(word), 1, 15))::UBIGINT AS h FROM w),
        |r AS (SELECT (h >> 51)::BIGINT AS bucket,
        |    CASE WHEN (h & ((1::UBIGINT << 51) - 1)) = 0 THEN 52
        |         ELSE 52 - length(bin(h & ((1::UBIGINT << 51) - 1))) END AS rho
        |  FROM h)
        |SELECT bucket, max(rho)::BIGINT AS max_rho FROM r GROUP BY 1""".stripMargin,

    "q_robots" ->
      """SELECT doc_id,
        |  'www.site' || (doc_id % 10) || '.example.com' AS host,
        |  CASE WHEN (doc_id % 10) % 3 = 0 THEN doc_id % 4 <> 0
        |       ELSE CASE doc_id % 4
        |              WHEN 0 THEN true
        |              WHEN 1 THEN false
        |              WHEN 2 THEN true
        |              ELSE (doc_id % 10) % 2 = 1
        |            END
        |  END AS robots_allowed
        |FROM documents""".stripMargin,

    "q_phrase_hits" ->
      """SELECT doc_id,
        |  (len(list_filter(range(1, length(text) + 1),
        |       i -> substr(text, i, 11) = 'batch batch'))
        | + len(list_filter(range(1, length(text) + 1),
        |       i -> substr(text, i, 9) = 'slow join'))
        | + len(list_filter(range(1, length(text) + 1),
        |       i -> substr(text, i, 13) = 'window window')))::BIGINT AS n_hits
        |FROM documents""".stripMargin,

    "q_bm25" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS dl,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x = 'spark'))::BIGINT AS tf0,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x = 'window'))::BIGINT AS tf1,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x = 'hash'))::BIGINT AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS tot,
        |    sum((tf0 > 0)::INT)::BIGINT AS df0,
        |    sum((tf1 > 0)::INT)::BIGINT AS df1,
        |    sum((tf2 > 0)::INT)::BIGINT AS df2
        |  FROM base),
        |sc AS (
        |  SELECT doc_id, dl,
        |    ((length(bin(n + 1)) - length(bin(df0 + 1)))::BIGINT * tf0 * 2200 * 1000000)
        |      // (tf0*1000 + (1200 * (250 + (750 * dl * 1000) // greatest(1, tot*1000//n))) // 1000)
        |  + ((length(bin(n + 1)) - length(bin(df1 + 1)))::BIGINT * tf1 * 2200 * 1000000)
        |      // (tf1*1000 + (1200 * (250 + (750 * dl * 1000) // greatest(1, tot*1000//n))) // 1000)
        |  + ((length(bin(n + 1)) - length(bin(df2 + 1)))::BIGINT * tf2 * 2200 * 1000000)
        |      // (tf2*1000 + (1200 * (250 + (750 * dl * 1000) // greatest(1, tot*1000//n))) // 1000)
        |    AS score_micro
        |  FROM base, stats)
        |SELECT doc_id, dl, score_micro FROM sc
        |ORDER BY score_micro DESC, doc_id ASC
        |LIMIT 25""".stripMargin,

    "q_rare_tokens" ->
      """WITH d AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0 THEN ' uniq' || doc_id ELSE '' END AS t2
        |  FROM documents),
        |toks AS (SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split(t2, ' ')) AS t FROM d)
        |  WHERE t <> ''),
        |cnt AS (SELECT t, count(*) AS n FROM toks GROUP BY t),
        |vocab AS (SELECT t FROM cnt WHERE n >= 5 ORDER BY n DESC, t ASC LIMIT 1048576),
        |agg AS (SELECT toks.doc_id, count(*)::BIGINT AS n_tokens,
        |    sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_rare
        |  FROM toks LEFT JOIN vocab v USING (t) GROUP BY toks.doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
        |  coalesce(a.n_rare, 0)::BIGINT AS n_rare
        |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q_blocklist" ->
      """SELECT doc_id, n_tokens, n_blocked,
        |  (n_blocked * 1000 <= n_tokens * 20) AS keep
        |FROM (SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |      x -> x IN ('customer', 'vector')))::BIGINT AS n_blocked
        |FROM documents)""".stripMargin,

    "q_recrawl" ->
      """SELECT doc_id, url, lang FROM (
        |  SELECT doc_id,
        |    'https://site' || (doc_id % 40) || '/p' AS url, lang,
        |    row_number() OVER (PARTITION BY doc_id % 40 ORDER BY doc_id DESC) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q_lang_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UINT64 <
        |  ((((ascii(substr(lang, 1, 1)) % 7) + 1) / 8.0) * 4294967296)::BIGINT""".stripMargin,

    "q_remove_runs" ->
      """WITH g0 AS (SELECT doc_id,
        |    unnest([{'pos': i, 'g': text[i:i+119]} for i in range(1, length(text) - 118)]) AS u
        |  FROM documents WHERE length(text) >= 120),
        |grams AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM g0),
        |hits AS (SELECT DISTINCT b.doc_id, b.pos FROM grams b
        |  WHERE EXISTS (SELECT 1 FROM grams a WHERE a.g = b.g AND a.doc_id < b.doc_id)),
        |cov AS (SELECT DISTINCT doc_id, unnest([pos + x for x in range(0, 120)]) AS p
        |  FROM hits),
        |c0 AS (SELECT doc_id,
        |    unnest([{'i': i, 'c': text[i]} for i in range(1, length(text) + 1)]) AS u
        |  FROM documents),
        |chars AS (SELECT doc_id, u.i AS i, u.c AS c FROM c0),
        |agg AS (SELECT chars.doc_id,
        |    coalesce(string_agg(CASE WHEN cov.p IS NULL THEN c END, '' ORDER BY i), '') AS text_clean,
        |    coalesce(sum(CASE WHEN cov.p IS NOT NULL THEN 1 END), 0)::BIGINT AS n_removed
        |  FROM chars LEFT JOIN cov ON chars.doc_id = cov.doc_id AND chars.i = cov.p
        |  GROUP BY chars.doc_id)
        |SELECT d.doc_id, coalesce(a.text_clean, d.text) AS text_clean,
        |  coalesce(a.n_removed, 0)::BIGINT AS n_removed
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    "q_incremental_fuzzy" ->
      """WITH existing AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
        |batch AS (
        |  SELECT * FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT * REPLACE (doc_id + 10000000 AS doc_id) FROM existing
        |  WHERE doc_id % 89 = 2),
        |bg AS (SELECT doc_id,
        |    list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM batch
        |        WHERE len(string_split(text, ' ')) >= 5)),
        |eg AS (SELECT doc_id,
        |    list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM existing
        |        WHERE len(string_split(text, ' ')) >= 5)),
        |dup AS (SELECT DISTINCT b.doc_id FROM bg b JOIN eg e
        |  ON len(list_intersect(b.g, e.g)) * 10 >=
        |     (len(b.g) + len(e.g) - len(list_intersect(b.g, e.g))) * 7)
        |SELECT b.doc_id, b.lang, b.n_chars FROM batch b
        |WHERE b.doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin,

    "q_cross_pairs" ->
      """WITH existing AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
        |batch AS (
        |  SELECT * FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT * REPLACE (doc_id + 10000000 AS doc_id) FROM existing
        |  WHERE doc_id % 89 = 2),
        |bg AS (SELECT doc_id,
        |    list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM batch
        |        WHERE len(string_split(text, ' ')) >= 5)),
        |eg AS (SELECT doc_id,
        |    list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM existing
        |        WHERE len(string_split(text, ' ')) >= 5))
        |SELECT b.doc_id AS bid, e.doc_id AS eid,
        |  len(list_intersect(b.g, e.g))::BIGINT AS inter,
        |  (len(b.g) + len(e.g) - len(list_intersect(b.g, e.g)))::BIGINT AS uni
        |FROM bg b JOIN eg e
        |  ON len(list_intersect(b.g, e.g)) * 10 >=
        |     (len(b.g) + len(e.g) - len(list_intersect(b.g, e.g))) * 7""".stripMargin,

    "q_shards" ->
      """SELECT doc_id, n_tokens, (cum - n_tokens) // 4096 AS shard FROM (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    sum(len(string_split(text, ' '))) OVER (ORDER BY doc_id)::BIGINT AS cum
        |  FROM documents)""".stripMargin,

    "q_stratified_shards" ->
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1 AS qrank
        |  FROM documents)
        |SELECT doc_id, qrank::BIGINT AS qrank, (qrank % 8)::BIGINT AS shard
        |FROM r""".stripMargin,

    // window 64, overlap 16, stride 48: nc = max(1, ceil((n-16)/48));
    // chunk i covers 1-based tokens [i*48+1, i*48+64] (DuckDB slices
    // clamp at the list end, matching Spark's slice).
    "q_chunk_docs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id, w,
        |    greatest(1, ceil((len(w) - 16) / 48.0))::BIGINT AS nc
        |  FROM toks WHERE len(w) > 0),
        |e AS (SELECT doc_id, w, unnest(range(nc)) AS i FROM p)
        |SELECT doc_id AS id, i::INT AS chunk_idx,
        |  len(w[(i*48+1)::INT:(i*48+64)::INT])::BIGINT AS n_chunk_tokens,
        |  array_to_string(w[(i*48+1)::INT:(i*48+64)::INT], ' ') AS chunk
        |FROM e""".stripMargin,

    "q_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams0 AS (SELECT doc_id,
        |    unnest([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]) AS g
        |  FROM toks WHERE len(w) >= 5),
        |grams AS (SELECT DISTINCT doc_id, g FROM grams0),
        |bgrams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 3),
        |hits AS (SELECT grams.doc_id, count(*) AS n
        |  FROM grams JOIN bgrams USING (g) GROUP BY grams.doc_id)
        |SELECT d.doc_id, coalesce(h.n, 0)::BIGINT AS n_hits,
        |  (h.n IS NOT NULL) AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    // replays the predecessor-append plant, distinct-gram counts, and the
    // integer 50% keep predicate (n_hits*100 <= n_grams*50)
    "q_decontaminate_frac" ->
      """WITH d2 AS (SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 11 = 4 AND p.text IS NOT NULL
        |      THEN d.text || ' ' || p.text ELSE d.text END AS t2
        |  FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
        |toks AS (SELECT doc_id, string_split(t2, ' ') AS w FROM d2),
        |grams0 AS (SELECT doc_id,
        |    unnest([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]) AS g
        |  FROM toks WHERE len(w) >= 5),
        |grams AS (SELECT DISTINCT doc_id, g FROM grams0),
        |ng AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM grams GROUP BY doc_id),
        |bgrams AS (SELECT DISTINCT g FROM (
        |    SELECT unnest([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]) AS g
        |    FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 11 = 3)
        |    WHERE len(w) >= 5)),
        |hits AS (SELECT grams.doc_id, count(*)::BIGINT AS n
        |  FROM grams JOIN bgrams USING (g) GROUP BY grams.doc_id)
        |SELECT d2.doc_id, coalesce(ng.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(hits.n, 0)::BIGINT AS n_hits,
        |  coalesce(hits.n, 0) * 100 <= coalesce(ng.n_grams, 0) * 50 AS keep
        |FROM d2 LEFT JOIN ng USING (doc_id) LEFT JOIN hits USING (doc_id)""".stripMargin,

    // full NB train+score replay: per-token class counts, count clamp 2^22,
    // scale 2^40, bitLen = length(bin(x)), OOV weight, per-doc bit sums
    "q_nb_classifier" ->
      """WITH d2 AS (SELECT doc_id, doc_id % 3 = 0 AS pos,
        |    text || ' ' || array_to_string(
        |      [CASE WHEN ((doc_id + 1) * (k + 7) * 2654435761) % 100 <
        |          (CASE WHEN doc_id % 3 = 0 THEN 70 ELSE 30 END)
        |        THEN 'qposw' ELSE 'qnegw' END for k in range(20)], ' ') AS t2
        |  FROM documents),
        |toks AS (SELECT doc_id, pos, t FROM (
        |    SELECT doc_id, pos, unnest(string_split(t2, ' ')) AS t
        |    FROM d2) WHERE t <> ''),
        |cnt AS (SELECT t,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS cp,
        |    sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS cn
        |  FROM toks GROUP BY t),
        |vocab AS (SELECT * FROM cnt ORDER BY (cp + cn) DESC, t ASC LIMIT 1048576),
        |tot AS (SELECT sum(cp) + count(*) AS tpv, sum(cn) + count(*) AS tnv FROM vocab),
        |w AS (SELECT t,
        |    length(bin(greatest(1, least(cp + 1, 4194304) * 1099511627776 // tpv)))::BIGINT
        |  - length(bin(greatest(1, least(cn + 1, 4194304) * 1099511627776 // tnv)))::BIGINT AS w
        |  FROM vocab, tot),
        |oov AS (SELECT
        |    length(bin(greatest(1, 1099511627776 // tpv)))::BIGINT
        |  - length(bin(greatest(1, 1099511627776 // tnv)))::BIGINT AS w FROM tot),
        |sc AS (SELECT toks.doc_id, count(*)::BIGINT AS n_tokens,
        |    sum(coalesce(w.w, (SELECT w FROM oov)))::BIGINT AS score_bits
        |  FROM toks LEFT JOIN w USING (t) GROUP BY toks.doc_id)
        |SELECT d.doc_id, coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
        |  coalesce(s.score_bits, 0)::BIGINT AS score_bits,
        |  coalesce(s.score_bits, 0) > 0 AS pred
        |FROM d2 d LEFT JOIN sc s USING (doc_id)""".stripMargin,

    // replays int8 quantization (floor(v/max|v|*127 + 0.5), zero vector ->
    // all zeros), integer dot products, and (dot desc, id asc) top-5
    "q_ann_int8" ->
      """WITH mx AS (SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(x))) AS m FROM embeddings),
        |qt AS (SELECT e.vec_id,
        |    CASE WHEN m > 0
        |      THEN list_transform(e.embedding, x -> floor(x::DOUBLE / m::DOUBLE * 127.0 + 0.5))
        |      ELSE list_transform(e.embedding, x -> 0.0::DOUBLE) END AS qv
        |  FROM embeddings e JOIN mx USING (vec_id)),
        |d AS (SELECT a.vec_id AS qid, b.vec_id AS id,
        |    list_dot_product(a.qv, b.qv)::BIGINT AS dot
        |  FROM qt a JOIN qt b ON a.vec_id % 40 = 0 AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, id, dot,
        |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, id ASC) AS rnk
        |  FROM d)
        |SELECT qid AS vec_id, rnk::BIGINT AS rnk, id AS neighbor_id, dot AS dot_q
        |FROM r WHERE rnk <= 5""".stripMargin,

    // int8 shortlist (integer dots, top-12) then float cosine re-rank to 3
    "q_ann_int8_rerank" ->
      """WITH mx AS (SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(x))) AS m FROM embeddings),
        |qt AS (SELECT e.vec_id,
        |    CASE WHEN m > 0
        |      THEN list_transform(e.embedding, x -> floor(x::DOUBLE / m::DOUBLE * 127.0 + 0.5))
        |      ELSE list_transform(e.embedding, x -> 0.0::DOUBLE) END AS qv
        |  FROM embeddings e JOIN mx USING (vec_id)),
        |d AS (SELECT a.vec_id AS qid, b.vec_id AS id,
        |    list_dot_product(a.qv, b.qv)::BIGINT AS dot
        |  FROM qt a JOIN qt b ON a.vec_id % 40 = 0 AND a.vec_id <> b.vec_id),
        |shortlist AS (SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, id ASC) AS r
        |    FROM d) WHERE r <= 12),
        |resc AS (SELECT s.qid, s.id,
        |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS sim
        |  FROM shortlist s
        |  JOIN embeddings a ON a.vec_id = s.qid
        |  JOIN embeddings b ON b.vec_id = s.id),
        |r AS (SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rnk
        |  FROM resc)
        |SELECT qid AS vec_id, rnk::BIGINT AS rnk, id AS neighbor_id
        |FROM r WHERE rnk <= 3""".stripMargin,

    // Brute-force ≥0.5 pairs, integer-decile histogram (// is DuckDB's
    // integer floordiv, matching Spark's DIV on BIGINT).
    "q_sim_histogram" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |grams AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM toks),
        |pairs AS (SELECT
        |  len(list_intersect(a.g, b.g))::BIGINT AS inter,
        |  (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))::BIGINT AS uni
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
        |SELECT (inter * 10) // uni AS sim_decile, count(*)::BIGINT AS n_pairs
        |FROM pairs WHERE inter * 2 >= uni GROUP BY 1""".stripMargin,

    // Identical md5 doc sample (hashUnit < 2^30 ⇔ p=1/4), brute-force
    // histogram over the sample, closed-form ·16 scale-up gated as a column.
    "q_sim_histogram_sampled" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5
        |    AND ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UINT64 < 1073741824),
        |grams AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM toks),
        |pairs AS (SELECT
        |  len(list_intersect(a.g, b.g))::BIGINT AS inter,
        |  (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))::BIGINT AS uni
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
        |SELECT (inter * 10) // uni AS sim_decile, count(*)::BIGINT AS n_pairs,
        |  (count(*) * 16)::BIGINT AS n_pairs_est
        |FROM pairs WHERE inter * 2 >= uni GROUP BY 1""".stripMargin,

    "q_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |grams AS (SELECT doc_id,
        |  unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)])) AS g
        |  FROM toks),
        |dfc AS (SELECT g, count(*)::BIGINT AS df FROM grams GROUP BY g)
        |SELECT grams.doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN dfc.df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
        |  ((1000 * (count(*) - sum(CASE WHEN dfc.df > 1 THEN 1 ELSE 0 END)))
        |    // count(*))::BIGINT AS novelty_per_mille
        |FROM grams JOIN dfc USING (g) GROUP BY grams.doc_id""".stripMargin,

    "q_dedup_summary" ->
      (fuzzyCcSql +
        """, ex AS (SELECT doc_id, lang,
          |    min(doc_id) OVER (PARTITION BY md5(text)) AS ek
          |  FROM documents),
          |fz AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS fc
          |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
          |SELECT e.lang, count(*)::BIGINT AS n_docs,
          |  sum(CASE WHEN e.doc_id != e.ek THEN 1 ELSE 0 END)::BIGINT AS n_exact_dup,
          |  sum(CASE WHEN f.fc < f.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_fuzzy_dup,
          |  sum(CASE WHEN f.fc >= f.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_kept
          |FROM ex e JOIN fz f ON e.doc_id = f.doc_id
          |GROUP BY e.lang""".stripMargin),

    // Recursive CC over the lang-route-augmented corpus (same planted
    // construction as the engine side), then the multi-lang-component agg.
    "q_cross_lang_dup" ->
      """WITH RECURSIVE docs2 AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, 'xx' AS lang FROM documents
        |  WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 5),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs2
        |  WHERE len(string_split(text, ' ')) >= 5),
        |grams AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM grams a JOIN grams b
        |  ON a.doc_id < b.doc_id
        |  AND len(list_intersect(a.g, b.g)) * 10 >=
        |      (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) * 7),
        |sym AS (SELECT pa AS u, pb AS v FROM pairs UNION SELECT pb, pa FROM pairs),
        |reach AS (SELECT doc_id AS id, doc_id AS r FROM docs2
        |  UNION
        |  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |asg AS (SELECT d.doc_id AS id, d.lang,
        |    coalesce(c.component, d.doc_id) AS component
        |  FROM docs2 d LEFT JOIN comp c ON d.doc_id = c.id)
        |SELECT component, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT lang)::BIGINT AS n_langs,
        |  min(lang) AS lang_min, max(lang) AS lang_max
        |FROM asg GROUP BY component
        |HAVING count(DISTINCT lang) > 1""".stripMargin
  )
}
