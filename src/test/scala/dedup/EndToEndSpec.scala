package dedup

import org.scalatest.funsuite.AnyFunSuite

/** E2E gates on the deterministic synthetic corpus (FIXTURES.md §2):
  * dup-pair recall vs a brute-force exact-Jaccard oracle, precision of
  * verified pairs, hot-key cluster handling, partition-layout invariance.
  */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private val N = 1200L
  private val cfg = DedupConfig(
    idCol = "id", textCol = "text",
    ngram = 5, minLength = 5, numPerm = 250, threshold = 0.7,
    seed = 42L, saltBuckets = 8, verify = true)

  private lazy val corpus = {
    import spark.implicits._
    Synth.corpus(spark, N).map(d => (Hashes.xxh64Str(d.url), d.text, d.cluster, d.cls))
      .toDF("id", "text", "cluster", "cls")
      .cache()
  }

  /** brute-force truth: pairs with exact shingle-Jaccard >= threshold */
  private lazy val truthPairs: Set[(Long, Long)] = {
    val docs = corpus.select("id", "text").collect()
      .map(r => r.getLong(0) -> TextNorm.shingleHashes(r.getString(1), cfg.ngram, cfg.minLength))
      .filter(_._2.nonEmpty)
    val out = scala.collection.mutable.Set[(Long, Long)]()
    var i = 0
    while (i < docs.length) {
      var j = i + 1
      while (j < docs.length) {
        val (inter, uni) = VerifyPairs.jaccardCounts(docs(i)._2, docs(j)._2)
        if (inter.toLong * 10 >= uni.toLong * 7) {
          val (a, b) = (docs(i)._1, docs(j)._1)
          out += ((math.max(a, b), math.min(a, b)))
        }
        j += 1
      }
      i += 1
    }
    out.toSet
  }

  private lazy val result = FuzzyDedup.run(corpus, cfg)
  private lazy val assignMap: Map[Long, Long] =
    result.assignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("reference-parity: verified pipeline recovers >=0.99 of the pairs the " +
      "reference semantics (no verification) would find") {
    // reference flagship accepts all LSH bucket-mates (fuzzy_spark2.py:620-623);
    // our verify gate must not lose true dup pairs relative to that
    val refAssign = FuzzyDedup.run(corpus, cfg.copy(verify = false)).assignments
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refFound = truthPairs.filter { case (a, b) => refAssign(a) == refAssign(b) }
    assert(refFound.nonEmpty)
    val ours = refFound.count { case (a, b) => assignMap(a) == assignMap(b) }
    val recall = ours.toDouble / refFound.size
    info(s"reference-mode finds ${refFound.size} true pairs; ours keeps $ours (recall $recall)")
    assert(recall >= 0.99, s"recall vs reference semantics $recall below gate")
  }

  test("dup-pair recall >= 0.99 vs brute-force exact-Jaccard oracle") {
    assert(truthPairs.nonEmpty, "synth corpus must plant dup pairs")
    // found pair = same component in the final assignment
    val found = truthPairs.count { case (a, b) => assignMap(a) == assignMap(b) }
    val recall = found.toDouble / truthPairs.size
    info(s"truth pairs: ${truthPairs.size}, found: $found, recall: $recall")
    assert(recall >= 0.99, s"recall $recall below gate")
  }

  test("incremental fuzzy recall >= 0.99 on the synth corpus split in two") {
    // split the corpus into "existing" (even ids) and "batch" (odd ids):
    // the planted dup classes cross the split, so the truth is the
    // cross-split slice of the brute-force pair set; newDocsFuzzy must
    // drop >=0.99 of the batch docs that have an existing near-dup, and
    // crossPairs must be exactly the verified subset of that truth.
    val existing = corpus.where(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("id"), org.apache.spark.sql.functions.lit(2L)) === 0L)
    val batch = corpus.where(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("id"), org.apache.spark.sql.functions.lit(2L)) === 1L)
    val crossTruth = truthPairs.filter { case (a, b) =>
      (Math.floorMod(a, 2L) == 0L) != (Math.floorMod(b, 2L) == 0L)
    }
    assert(crossTruth.nonEmpty, "split must cut through planted dup classes")
    val dupBatchTruth = crossTruth.map { case (a, b) =>
      if (Math.floorMod(a, 2L) == 1L) a else b
    }
    val keptIds = IncrementalDedup.newDocsFuzzy(existing, batch, cfg)
      .select("id").collect().map(_.getLong(0)).toSet
    val dropped = dupBatchTruth.count(!keptIds.contains(_))
    val recall = dropped.toDouble / dupBatchTruth.size
    info(s"cross-split dup batch docs: ${dupBatchTruth.size}, dropped: $dropped, recall: $recall")
    assert(recall >= 0.99, s"incremental fuzzy recall $recall below gate")
    // precision: every crossPairs row is a true >= threshold pair
    val pairs = IncrementalDedup.crossPairs(existing, batch, cfg)
      .select("bid", "eid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bad = pairs.filterNot { case (b, e) =>
      crossTruth.contains((math.max(b, e), math.min(b, e)))
    }
    assert(bad.isEmpty, s"${bad.size} false-positive cross pairs: ${bad.take(3)}")
  }

  test("verified pairs are all true positives (precision of the verify gate)") {
    import spark.implicits._
    val verified = result.edges.select("src", "dst").as[(Long, Long)].collect()
    val shingleMap = corpus.select("id", "text").collect()
      .map(r => r.getLong(0) -> TextNorm.shingleHashes(r.getString(1), cfg.ngram, cfg.minLength))
      .toMap
    verified.foreach { case (s, d) =>
      val (inter, uni) = VerifyPairs.jaccardCounts(shingleMap(s), shingleMap(d))
      assert(inter.toLong * 10 >= uni.toLong * 7, s"verified pair ($s,$d) below threshold: $inter/$uni")
    }
  }

  test("hot-key template cluster resolves into one component (salting path)") {
    val hotIds = corpus.where(org.apache.spark.sql.functions.col("cls") === "hot")
      .select("id").collect().map(_.getLong(0))
    assert(hotIds.length > 5, "synth should plant a hot cluster")
    val comps = hotIds.map(assignMap).distinct
    assert(comps.length === 1, s"hot cluster split into ${comps.length} components")
  }

  test("exact-dup classes dedupe to one representative per cluster") {
    import org.apache.spark.sql.functions._
    val exact = corpus.where(col("cls") === "exact")
    val withComp = exact.join(
      result.assignments.withColumnRenamed("id", "id2"),
      exact("id") === col("id2"))
    // docs in the same planted cluster share a component
    val bad = withComp.groupBy(col("cluster"))
      .agg(countDistinct(col("component")).as("nc"))
      .where(col("nc") > 1).count()
    assert(bad === 0L)
  }

  test("assignments are partition-layout invariant (ids are content-keyed)") {
    val re = corpus.repartition(17)
    val again = FuzzyDedup.run(re, cfg).assignments
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === assignMap)
  }

  test("library run releases every stage it persisted, in the CLI's stage order") {
    val held = scala.collection.mutable.ArrayBuffer[(String, org.apache.spark.sql.DataFrame)]()
    val recording: FuzzyDedup.Stage = name => compute => {
      val df = FuzzyDedup.persisted(name)(compute)
      held += name -> df
      df
    }
    FuzzyDedup.run(corpus.select("id", "text"), cfg, simhash = true, suffix = true,
      stage = recording)
    assert(held.map(_._1).toSeq === Seq("shingles", "bands", "candidates", "verified",
      "simhash_edges", "suffix_edges", "components", "assignments"))
    held.foreach { case (name, df) =>
      assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
        s"stage $name is still cached after run returned")
    }
  }

  test("CLI assignments == FuzzyDedup.run over the CLI's ids, bit for bit") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("onegraph").toString
    val args = Pipeline.parse(Array("--synth", "800", "--output", root,
      "--num-perm", "64", "--salt", "4"))
    val (_, cliAssign) = Pipeline.run(spark, args)
    val docs = Pipeline.preparedPages(spark, args)
      .select(xxhash64(col("url")).as("id"), col("text"))
    val libAssign = FuzzyDedup.run(docs, args.cfg).assignments
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cli = pairs(cliAssign)
    assert(cli.size === 800)
    assert(cli.exists { case (id, comp) => id != comp }, "corpus must plant duplicates")
    assert(pairs(libAssign) === cli)
  }

  test("kept = one doc per component; removal anti-join consistent") {
    val kept = FuzzyDedup.kept(corpus, cfg)
    val keptIds = kept.select("id").collect().map(_.getLong(0)).toSet
    val byComp = assignMap.groupBy(_._2)
    assert(keptIds.size === byComp.size)
    byComp.foreach { case (comp, members) =>
      assert(keptIds.contains(comp) || !members.keySet.contains(comp))
      assert(members.keySet.intersect(keptIds).size === 1)
    }
  }

  test("short docs are excluded from matching but preserved in assignments") {
    val shortIds = corpus.where(org.apache.spark.sql.functions.col("cls") === "short")
      .select("id").collect().map(_.getLong(0))
    shortIds.foreach { id =>
      assert(assignMap(id) === id, "short docs can never match (below min_length)")
    }
  }

  test("per-language recall report: every language split >= 0.99 recall " +
      "(reference Indic-benchmark counterpart)") {
    // reference reports recall per language over language-split pipelines
    // (Indic Languages Benchmark/Readme.md:9-58, master_lang_split.py);
    // ours: per-lang verified fuzzy dedup vs per-lang brute-force
    // exact-Jaccard truth on the multi-lang synthetic page table
    val stats = RecallReport.perLangRecall(spark, 1600L, cfg)
    info("\n" + RecallReport.markdown(stats, cfg, 1600L))
    assert(stats.size >= 10,
      "corpus must span >=10 languages/scripts (multiScriptPages plants 23)")
    assert(stats.map(_.truthPairs).sum > 100, "truth must be non-vacuous")
    // gate = recall vs the reference at identical config (north rule);
    // raw brute-force-truth recall is reported but only gated in
    // aggregate — a pair at similarity exactly t is banded with prob
    // ~0.77 at (25,10), so tiny per-lang splits flip coins on it
    val agg = stats.map(_.foundPairs).sum.toDouble / stats.map(_.truthPairs).sum
    assert(agg >= 0.98, s"aggregate brute-force-truth recall $agg below 0.98")
    stats.foreach { s =>
      assert(s.truthPairs > 0, s"vacuous split ${s.lang}")
      assert(s.refPairs > 0, s"vacuous reference split ${s.lang}")
      assert(s.refRecall >= 0.99, s"lang ${s.lang} recall-vs-reference ${s.refRecall} below gate")
      assert(s.verifiedPrecision == 1.0, s"lang ${s.lang} emitted a false verified pair")
    }
  }

  test("all pipeline stages compose (--extract-html --quality --infer-lang " +
      "--simhash --suffix --semantic) and the composed run resumes identically") {
    val root = java.nio.file.Files.createTempDirectory("compose").toString
    val args = Pipeline.Args(
      synth = 600, output = root,
      simhash = true, suffix = true,
      semantic = true, semK = 8, semDim = 16,
      inferLang = true, quality = true, extractHtml = true,
      cfg = DedupConfig(numPerm = 64, saltBuckets = 4))
    val (kept1, a1) = Pipeline.run(spark, args)
    val k1 = kept1.count(); val n1 = a1.count()
    assert(n1 > 0L && k1 > 0L && k1 <= n1,
      s"composed pipeline produced kept=$k1 of assigned=$n1")
    // full rerun: every stage resumes from its checkpoint (config hash
    // encodes the whole flag set), results byte-identical
    val (kept2, a2) = Pipeline.run(spark, args)
    assert(kept2.count() === k1)
    assert(a2.count() === n1)
    assert(a2.exceptAll(a1).count() === 0L, "rerun changed assignments")
  }

  test("--extract-html --main-content --nfc --link-rank: source prep composes " +
      "(boilerplate dropped, NFC merges composed/decomposed dups, ranks written)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("prep").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val prose = "This page carries one long paragraph of body prose that " +
      "clears the length gate comfortably and has no links at all."
    val html = ("<html><body><p>" + prose + "</p>" +
      "<nav><a href=\"https://hub.example.net/x\">Hub</a> " +
      "<a href=\"https://hub.example.net/y\">More</a></nav></body></html>")
      .getBytes("UTF-8")
    // p2 decomposed (e + U+0301), p3 composed (U+00E9): byte-different,
    // NFC-identical — must dedup to ONE kept doc under --nfc
    val deco = "re\u0301sume\u0301 writing advice body with plenty of words here"
    val comp = "r\u00E9sum\u00E9 writing advice body with plenty of words here"
    Seq(
      Page("http://a.example/1", ts, html, null, "en"),
      Page("http://b.example/2", ts, null, deco, "en"),
      Page("http://c.example/3", ts, null, comp, "en"))
      .toDS().toDF().write.mode("overwrite").parquet(s"$dir/in.parquet")
    val args = Pipeline.parse(Array(
      "--input", s"$dir/in.parquet", "--output", s"$dir/out",
      "--extract-html", "--main-content", "--nfc", "--link-rank", "2",
      "--num-perm", "64", "--salt", "4"))
    val (kept, assigns) = Pipeline.run(spark, args)
    val texts = kept.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(assigns.count() === 3L)
    // main content: paragraph kept, nav dropped
    assert(texts("http://a.example/1") === prose)
    // NFC: exactly one of the composed/decomposed twins survives, composed
    assert(kept.count() === 2L)
    val twin = texts.find(_._1 != "http://a.example/1").get
    assert(twin._2 === comp)
    // link-rank artifact: 2 hosts (a.example -> hub.example.net)
    val ranks = spark.read.parquet(s"$dir/out/host_ranks")
    assert(ranks.count() === 2L)
    assert(ranks.columns.toSeq === Seq("host", "rank"))
    // --main-content without --extract-html would be a silent no-op; parse
    // must reject it loudly instead
    val err = intercept[IllegalArgumentException] {
      Pipeline.parse(Array("--synth", "10", "--output", dir, "--main-content"))
    }
    assert(err.getMessage.contains("--extract-html"))
  }

  test("--contain: quote-inside-page dropped by the containment stage, " +
      "invisible to MinHash; exact dups collapse upstream; resume identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def page(url: String, text: String) = Page(url, ts, null, text, "en")
    val quote = (0 until 30).map(k => s"quote$k").mkString(" ")
    val filler = (0 until 300).map(k => s"page$k").mkString(" ")
    val other = (0 until 80).map(k => s"other$k").mkString(" ")
    Seq(
      page("http://wire/story", quote), // verbatim inside the big page
      page("http://big/page", s"$quote $filler"),
      page("http://big/page-copy", s"$quote $filler"), // exact dup of the page
      page("http://un/related", other),
      // below min_length (5 tokens): absent from the shingle stage, so it
      // is OUTSIDE the containment universe — a phantom "contained" drop
      // of short docs was a real round-4 bug
      page("http://tiny/doc", "hi there"))
      .toDS().toDF().write.mode("overwrite").parquet(s"$dir/in.parquet")
    val argv = Array(
      "--input", s"$dir/in.parquet", "--output", s"$dir/out",
      "--contain", "0.9", "--num-perm", "64", "--salt", "4")
    val (kept, assigns) = Pipeline.run(spark, Pipeline.parse(argv))
    val keptUrls = kept.select("url").as[String].collect().toSet
    assert(assigns.count() === 5L)
    assert(keptUrls.contains("http://tiny/doc"),
      "short doc (no shingles) must never be containment-dropped")
    // MinHash cannot see the quote (jaccard ≈ 0.09 << 0.7) — only the
    // containment stage drops it; the byte-identical page copy falls to
    // the main dedup; exactly one big page + the unrelated doc survive
    assert(!keptUrls.contains("http://wire/story"), "quote must be contained-dropped")
    assert(keptUrls.contains("http://un/related"))
    assert(keptUrls.count(_.startsWith("http://big/")) === 1)
    // the stage checkpointed and the rerun resumes to identical output
    assert(new java.io.File(s"$dir/out/contain_drops/_MANIFEST.json").exists())
    // run-summary artifact: first run computed everything
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val sum1 = om.readTree(new java.io.File(s"$dir/out/SUMMARY.json"))
    val stages1 = sum1.get("stages").elements()
    var sawKept = false
    while (stages1.hasNext) {
      val s = stages1.next()
      assert(!s.get("resumed").asBoolean(), s"first run must compute ${s.get("stage")}")
      if (s.get("stage").asText() == "kept") {
        sawKept = true
        assert(s.get("rows").asLong() === keptUrls.size.toLong)
      }
    }
    assert(sawKept, "SUMMARY.json must include the kept stage")
    // the kept sink is sized to the session's cores, not a fixed floor
    val pidDirs = new java.io.File(s"$dir/out/kept/data").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__pid__="))
    val chunk = Pipeline.parse(argv).chunkRows
    val sinkBound = math.max(spark.sparkContext.defaultParallelism.toLong,
      (keptUrls.size + chunk - 1) / chunk)
    assert(pidDirs <= sinkBound, s"kept wrote $pidDirs __pid__ dirs, bound $sinkBound")
    val (kept2, _) = Pipeline.run(spark, Pipeline.parse(argv))
    assert(kept2.select("url").as[String].collect().toSet === keptUrls)
    // rerun summary: every stage resumed (the resume audit in one file)
    val sum2 = om.readTree(new java.io.File(s"$dir/out/SUMMARY.json"))
    val stages2 = sum2.get("stages").elements()
    while (stages2.hasNext) {
      val s = stages2.next()
      assert(s.get("resumed").asBoolean(), s"rerun must resume ${s.get("stage")}")
    }
    // without --contain the quote survives (proves the stage does the work)
    val (keptNo, _) = Pipeline.run(spark, Pipeline.parse(
      Array("--input", s"$dir/in.parquet", "--output", s"$dir/out_nc",
        "--num-perm", "64", "--salt", "4")))
    assert(keptNo.select("url").as[String].collect().toSet
      .contains("http://wire/story"))
  }

  test("--nb-quality: model generalizes the heuristic teacher — spam-vocab " +
      "doc that PASSES the Gopher gate is dropped; exclusive with --quality") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nbq").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def page(url: String, text: String) = Page(url, ts, null, text, "en")
    def shuffled(tokens: Seq[String], salt: Long): String =
      tokens.sortBy(t => Hashes.xxh64Str(s"$t|$salt")).mkString(" ")
    val spamVocab = (0 until 40).map(k => s"zzspam$k")
    val goodVocab = (0 until 80).map(k => s"goodword$k")
    // teacher-negative: 40-token spam docs (fail ok_len < 50); the NB
    // learns the zzspam vocabulary is negative evidence
    val spamDocs = (0 until 30).map(i =>
      page(s"http://spam/$i", shuffled(spamVocab, i)))
    // teacher-positive: 60-token good docs
    val goodDocs = (0 until 30).map(i =>
      page(s"http://good/$i", shuffled(goodVocab.take(50) ++
        goodVocab.drop(50).take(10).map(t => s"$t$i"), 100L + i)))
    // the probe: 60 tokens of PURE spam vocabulary — passes every Gopher
    // rule (len, distinct, alpha, word len), so the heuristic keeps it;
    // only the learned filter can drop it
    val probe = page("http://spamlike/pass",
      shuffled(spamVocab ++ spamVocab.take(20).map(t => s"${t}x"), 999L))
    (spamDocs ++ goodDocs :+ probe).toDS().toDF()
      .write.mode("overwrite").parquet(s"$dir/in.parquet")

    // sanity: the probe passes the heuristic gate
    val probeKeep = TextAnalysis.qualityFilter(
        Seq(("p", probe.text)).toDF("id", "text"), "text")
      .select("keep").as[Boolean].head()
    assert(probeKeep, "probe must pass the Gopher gate for the test to bite")

    val (kept, _) = Pipeline.run(spark, Pipeline.parse(Array(
      "--input", s"$dir/in.parquet", "--output", s"$dir/out",
      "--nb-quality", "--num-perm", "64", "--salt", "4")))
    val keptUrls = kept.select("url").as[String].collect().toSet
    assert(keptUrls.count(_.startsWith("http://good/")) === 30,
      "all good docs survive the model gate")
    assert(!keptUrls.exists(_.startsWith("http://spam/")),
      "teacher-negative docs are dropped")
    assert(!keptUrls.contains("http://spamlike/pass"),
      "the heuristic-passing spam-vocab probe must be dropped by the MODEL")

    // without any quality flag the probe survives (proves the stage acts)
    val (keptNo, _) = Pipeline.run(spark, Pipeline.parse(Array(
      "--input", s"$dir/in.parquet", "--output", s"$dir/out_no",
      "--num-perm", "64", "--salt", "4")))
    assert(keptNo.select("url").as[String].collect().toSet
      .contains("http://spamlike/pass"))

    // --quality and --nb-quality are mutually exclusive
    intercept[IllegalArgumentException] {
      Pipeline.parse(Array("--input", "x", "--output", "y",
        "--quality", "--nb-quality"))
    }
  }

  test("--decontaminate: benchmark-overlap pages dropped pre-dedup; " +
      "fractional gate spares the partial quote") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("decon").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def page(url: String, text: String) = Page(url, ts, null, text, "en")
    val benchText = (0 until 40).map(k => s"bench$k").mkString(" ")
    Seq(("b1", benchText)).toDF("name", "text")
      .write.mode("overwrite").parquet(s"$dir/bench.parquet")
    val own = (0 until 120).map(k => s"own$k").mkString(" ")
    Seq(
      page("http://copy/of-bench", benchText),               // wholesale copy
      page("http://quote/partial", s"$own $benchText"),      // ~25% quote
      page("http://clean/page", (0 until 60).map(k => s"c$k").mkString(" ")))
      .toDS().toDF().write.mode("overwrite").parquet(s"$dir/in.parquet")
    // strict any-hit gate (GPT-3 appx C): both overlapping pages die
    val (strict, _) = Pipeline.run(spark, Pipeline.parse(Array(
      "--input", s"$dir/in.parquet", "--output", s"$dir/out_strict",
      "--decontaminate", s"$dir/bench.parquet", "--decon-n", "5",
      "--num-perm", "64", "--salt", "4")))
    assert(strict.select("url").as[String].collect().toSet ===
      Set("http://clean/page"))
    // fractional gate at 50%: the partial quote (~25% of grams) survives,
    // the wholesale copy still dies
    val (frac, _) = Pipeline.run(spark, Pipeline.parse(Array(
      "--input", s"$dir/in.parquet", "--output", s"$dir/out_frac",
      "--decontaminate", s"$dir/bench.parquet", "--decon-n", "5",
      "--decon-max-pct", "50", "--num-perm", "64", "--salt", "4")))
    assert(frac.select("url").as[String].collect().toSet ===
      Set("http://clean/page", "http://quote/partial"))
    intercept[IllegalArgumentException] {
      Pipeline.parse(Array("--input", "x", "--output", "y",
        "--decontaminate", "b", "--decon-max-pct", "101"))
    }
  }

  test("--existing / --dedup-lines / --redact-pii: incremental prefilter, " +
      "line dedup and PII scrub compose through the pipeline") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("incr").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def page(url: String, text: String) = Page(url, ts, null, text, "en")
    // existing corpus: one doc whose text a batch doc repeats verbatim
    Seq(page("http://old/1", "already ingested body of text"))
      .toDS().toDF().write.mode("overwrite").parquet(s"$dir/existing.parquet")
    val batch = Seq(
      page("http://new/1", "intro one\nshared banner line\nwrite bob@example.com"),
      page("http://new/2", "intro two\nshared banner line\ncall +1 5550123456"),
      page("http://new/3", "already ingested body of text")) // incremental dup
    batch.toDS().toDF().write.mode("overwrite").parquet(s"$dir/batch.parquet")
    val args = Pipeline.parse(Array(
      "--input", s"$dir/batch.parquet", "--output", s"$dir/out",
      "--existing", s"$dir/existing.parquet",
      "--dedup-lines", "--redact-pii", "--num-perm", "64", "--salt", "4"))
    val (kept, assigns) = Pipeline.run(spark, args)
    val texts = kept.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // incremental: the byte-identical batch doc never entered the pipeline
    assert(assigns.count() === 2L)
    assert(!texts.contains("http://new/3"))
    // line dedup: exactly one kept doc still carries the shared banner
    assert(texts.values.count(_.contains("shared banner line")) === 1)
    // PII: the kept sink holds tokens, never the raw email/phone
    val joined = texts.values.mkString("\n")
    assert(!joined.contains("bob@example.com") && !joined.contains("5550123456"))
    assert(joined.contains(Pii.EmailToken) && joined.contains(Pii.PhoneToken))
  }

  test("--existing: a rewritten existing corpus invalidates the ids stage on rerun") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("incr_key").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def page(url: String, text: String) = Page(url, ts, null, text, "en")
    def writeExisting(text: String): Unit =
      Seq(page("http://old/1", text))
        .toDS().toDF().write.mode("overwrite").parquet(s"$dir/existing.parquet")
    writeExisting("already ingested body of text")
    Seq(page("http://new/1", "a fresh page about something else entirely"),
      page("http://new/2", "already ingested body of text"))
      .toDS().toDF().write.mode("overwrite").parquet(s"$dir/batch.parquet")
    val argv = Array(
      "--input", s"$dir/batch.parquet", "--output", s"$dir/out",
      "--existing", s"$dir/existing.parquet", "--num-perm", "64", "--salt", "4")
    def keptUrls(): Set[String] =
      Pipeline.run(spark, Pipeline.parse(argv))._1.select("url").as[String].collect().toSet
    assert(keptUrls() === Set("http://new/1"))
    // corpus B no longer holds the repeated text: the rerun into the same
    // output must recompute ids, so http://new/2 is new again
    writeExisting("a different page that nobody repeats")
    assert(keptUrls() === Set("http://new/1", "http://new/2"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val stages = om.readTree(new java.io.File(s"$dir/out/SUMMARY.json")).get("stages").elements()
    var sawIds = false
    while (stages.hasNext) {
      val st = stages.next()
      if (st.get("stage").asText() == "ids") {
        sawIds = true
        assert(!st.get("resumed").asBoolean(), "ids resumed against a changed existing corpus")
      }
    }
    assert(sawIds, "SUMMARY.json must include the ids stage")
  }

  test("kitchen sink: every post-dedup shaping stage composes in one run and " +
      "resumes byte-identically (--simhash --suffix --dedup-lines --redact-pii " +
      "--sample-target --mix --shard-tokens --cdc-report)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("sink").toString
    val argv = Array("--synth", "500", "--output", dir,
      "--simhash", "--suffix", "--dedup-lines", "--redact-pii",
      "--sample-alpha", "0.7", "--sample-target", "0.8",
      "--mix", "*:1", "--mix-budget", "40000",
      "--shard-tokens", "5000",
      "--cdc-report", "6",
      "--num-perm", "64", "--salt", "4")
    val args = Pipeline.parse(argv)
    val (kept, assigns) = Pipeline.run(spark, args)
    val n = kept.count()
    assert(n > 0 && n < 500, s"kept $n of 500")
    assert(assigns.count() > 0)
    // every shaping stage left its mark: shard column assigned, cdc
    // report written with one row per kept doc, mix respected its budget
    // within sampling noise
    assert(kept.schema.fieldNames.contains("shard"))
    val report = spark.read.parquet(s"$dir/cdc_report")
    assert(report.count() === n)
    val toks = kept.withColumn("ntok", size(split(col("text"), "\\s+")))
      .agg(sum(col("ntok"))).collect()(0).getLong(0)
    assert(toks < 40000 * 2 && toks > 40000 / 4, s"mix budget wildly off: $toks")
    // resume: identical kept set, no stage recomputed into a different row set
    val (kept2, _) = Pipeline.run(spark, Pipeline.parse(argv))
    assert(kept2.select("url").collect().map(_.getString(0)).sorted.toSeq ===
      kept.select("url").collect().map(_.getString(0)).sorted.toSeq)
  }

  // ------------------------------------------- --existing probe: once per run

  /** A small `--existing --existing-fuzzy` fixture: an 8-class existing
    * corpus; a batch with a byte-identical copy of class 0, near-dups of
    * classes 1 and 2, a near-dup pair inside the batch, new pages, and one
    * url crawled twice — once with an existing text (the exact probe drops
    * that copy), once with a new text (it survives). */
  private def incrementalFixture(name: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def text(cls: Int, mut: Int = -1): String = {
      val toks = Array.tabulate(40)(t => s"c${cls}t$t")
      if (mut >= 0) toks(mut) = s"mut$mut"
      toks.mkString(" ")
    }
    def html(to: String) = s"""<a href="https://$to/x">x</a>""".getBytes("UTF-8")
    (0 until 8).map(c => Page(s"https://e.example/$c", ts, null, text(c), "en"))
      .toDS().toDF().write.mode("overwrite").parquet(s"$dir/existing")
    Seq(
      Page("https://b.example/0", ts, html("e.example"), text(0), "en"),
      Page("https://b.example/1", ts, null, text(1, 3), "de"),
      Page("https://b.example/2", ts, null, text(2, 38), null),
      Page("https://b.example/20", ts, html("c.example"), text(20), "en"),
      Page("https://b.example/20b", ts, null, text(20, 39), "en"),
      Page("https://b.example/21", ts, null, text(21), "de"),
      Page("https://b.example/22", ts, html("b.example"), text(22), null),
      Page("https://b.example/twice", ts, null, text(3), "en"),
      Page("https://b.example/twice", ts, null, text(23), "en"))
      .toDS().toDF().write.mode("overwrite").parquet(s"$dir/batch")
    dir
  }

  private def incrementalArgs(dir: String, extra: String*): Pipeline.Args =
    Pipeline.parse(Array("--input", s"$dir/batch", "--output", s"$dir/out",
      "--existing", s"$dir/existing", "--existing-fuzzy",
      "--num-perm", "64", "--salt", "4") ++ extra)

  /** One `--existing --existing-fuzzy` run with every executed physical
    * plan recorded; the cache is cleared first, so what it holds after
    * the run is what the run left behind. */
  private lazy val probeRun = {
    import org.apache.spark.sql.execution.SparkPlan
    val dir = incrementalFixture("probe_once")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.catalog.clearCache()
    spark.listenerManager.register(listener)
    val (kept, _) = try Pipeline.run(spark, incrementalArgs(dir))
      finally {
        org.apache.spark.sql.dedupbridge.drainListenerBus(spark.sparkContext, 60000L)
        spark.listenerManager.unregister(listener)
      }
    val cacheEmpty = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
    import scala.jdk.CollectionConverters._
    (dir, plans.asScala.toSeq, cacheEmpty, kept.select("url").collect().map(_.getString(0)).toSet)
  }

  /** Children of a physical plan node, entering AQE's final plan, query
    * stages, reused exchanges and the plans of cached relations. */
  private def planKids(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution._
    p match {
      case a: adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: adaptive.QueryStageExec => Seq(q.plan)
      case r: exchange.ReusedExchangeExec => Seq(r.child)
      case m: columnar.InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case o => o.children
    }
  }

  /** Every node reachable from `p`, each node instance once. */
  private def planNodes(roots: Seq[org.apache.spark.sql.execution.SparkPlan])
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[org.apache.spark.sql.execution.SparkPlan, java.lang.Boolean]())
    val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.execution.SparkPlan]()
    def go(p: org.apache.spark.sql.execution.SparkPlan): Unit =
      if (seen.add(p)) { out += p; planKids(p).foreach(go) }
    roots.foreach(go)
    out.toSeq
  }

  /** Root paths of the files scanned under `p`. */
  private def scannedPaths(p: org.apache.spark.sql.execution.SparkPlan): Set[String] =
    planNodes(Seq(p)).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toUri.getPath.stripSuffix("/"))
    }.flatten.toSet

  /** Typed map-partitions nodes producing `cls` objects (shingle sets:
    * DocShingles; MinHash band keys: BandKey). */
  private def producing(nodes: Seq[org.apache.spark.sql.execution.SparkPlan], cls: Class[_]) =
    nodes.collect {
      case m: org.apache.spark.sql.execution.MapPartitionsExec
          if m.outputObjAttr.dataType == org.apache.spark.sql.types.ObjectType(cls) => m
    }

  test("--existing: the kept write neither scans the existing corpus nor runs MinHash") {
    val (dir, plans, _, _) = probeRun
    val writes = plans.filter(p => planNodes(Seq(p)).exists {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        w.cmd.toString.contains("/out/kept/data")
      case _ => false
    })
    assert(writes.nonEmpty, "no kept write was recorded")
    writes.foreach { w =>
      val nodes = planNodes(Seq(w))
      val existing = new java.io.File(s"$dir/existing").getCanonicalPath
      assert(!scannedPaths(w).exists(_.startsWith(existing)),
        s"the kept write scans the existing corpus:\n$w")
      assert(producing(nodes, classOf[DocShingles]).isEmpty &&
        producing(nodes, classOf[BandKey]).isEmpty, s"the kept write runs MinHash:\n$w")
    }
  }

  test("--existing: batch band keys, corpus shingles and corpus band keys are each " +
      "computed in exactly one executed plan") {
    val (dir, plans, _, _) = probeRun
    val nodes = planNodes(plans)
    val batch = new java.io.File(s"$dir/batch").getCanonicalPath
    val existing = new java.io.File(s"$dir/existing").getCanonicalPath
    def side(ms: Seq[org.apache.spark.sql.execution.MapPartitionsExec], root: String) =
      ms.filter(m => scannedPaths(m).exists(_.startsWith(root)))
    val batchBands = side(producing(nodes, classOf[BandKey]), batch)
    val corpusBands = producing(nodes, classOf[BandKey])
      .filter(m => scannedPaths(m).forall(_.startsWith(existing)))
    val corpusShingles = producing(nodes, classOf[DocShingles])
      .filter(m => scannedPaths(m).forall(_.startsWith(existing)))
    assert(batchBands.size === 1, s"batch band keys computed ${batchBands.size} times")
    assert(corpusShingles.size === 1, s"corpus shingled ${corpusShingles.size} times")
    assert(corpusBands.size === 1, s"corpus band keys computed ${corpusBands.size} times")
  }

  test("--existing: after Pipeline.run the session's cache manager holds nothing") {
    val (_, _, cacheEmpty, keptUrls) = probeRun
    assert(cacheEmpty, "Pipeline.run left cached frames behind")
    // the probe dropped the copy of class 0, the near-dups of 1 and 2 and
    // the old copy of the twice-crawled url; the batch pair 20/20b keeps one
    val pair = Set("https://b.example/20", "https://b.example/20b")
    assert(keptUrls -- pair === Set("https://b.example/21", "https://b.example/22",
      "https://b.example/twice"))
    assert((keptUrls & pair).size === 1)
  }

  test("--existing with --by-lang and --link-rank: kept == the probed pages " +
      "minus the removed ids, payload intact") {
    import org.apache.spark.sql.functions._
    val dir = incrementalFixture("probe_bylang")
    val args = incrementalArgs(dir, "--by-lang", "--link-rank", "1")
    val (kept, assigns) = Pipeline.run(spark, args)
    val removal = assigns.where(col("id") =!= col("component")).select(col("id"))
    val expected = Pipeline.preparedPages(spark, args)
      .withColumn("id", xxhash64(col("url")))
      .join(removal, Seq("id"), "left_anti")
    val cols = Seq("id", "url", "warc_ts", "html", "text", "lang").map(col)
    val got = kept.select(cols: _*)
    val want = expected.select(cols: _*)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"kept differs:\n${got.collect().mkString("\n")}\nvs\n${want.collect().mkString("\n")}")
    assert(got.where(col("url") === "https://b.example/twice").count() === 1L)
    assert(spark.read.parquet(s"$dir/out/host_ranks").count() > 0L)
  }

  /** One Spark job as a listener saw it: its description, SQL execution
    * id, stage names (call sites) and start/end times (ms). */
  private case class Job(id: Int, desc: String, exec: String, stages: Seq[String],
      start: Long, end: Long) {
    def overlaps(o: Job): Boolean = start < o.end && o.start < end
  }

  /** Runs `body` with a listener on; returns its value, the jobs that ran
    * and the physical plan text of each SQL execution, by execution id. */
  private def recorded[A](body: => A): (A, Seq[Job], Map[String, String]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Job(e.jobId, e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("spark.sql.execution.id"), e.stageInfos.map(_.name),
          e.time, Long.MaxValue))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.put(x.executionId.toString, x.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    val out = try body finally {
      org.apache.spark.sql.dedupbridge.drainListenerBus(sc, 60000L)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    (out, jobs.values.asScala.toSeq.sortBy(_.id), plans.asScala.toMap)
  }

  private def summaryJson(root: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(s"$root/SUMMARY.json"))

  /** A `--simhash --suffix` CLI run recorded by a listener, plus a second
    * run of the same fixture into another root. */
  private lazy val forkedRuns = {
    val roots = Seq("forked_a", "forked_b").map(java.nio.file.Files.createTempDirectory(_).toString)
    def args(root: String) = Pipeline.parse(Array("--synth", "1500", "--output", root,
      "--simhash", "--suffix", "--num-perm", "64", "--salt", "4"))
    val (_, jobs, plans) = recorded(Pipeline.run(spark, args(roots.head)))
    Pipeline.run(spark, args(roots(1)))
    (roots, jobs, plans)
  }

  test("--simhash --suffix: a suffix_edges job runs while a bands, candidates or " +
      "verified job runs") {
    val (_, jobs, _) = forkedRuns
    val suffix = jobs.filter(_.desc == "suffix_edges")
    val chain = jobs.filter(j => Set("bands", "candidates", "verified")(j.desc))
    assert(suffix.nonEmpty && chain.nonEmpty)
    assert(suffix.exists(s => chain.exists(s.overlaps)),
      s"no overlap:\n${jobs.map(j => s"${j.desc} ${j.start}-${j.end}").mkString("\n")}")
  }

  test("concurrent stages' jobs carry their own stage names as job descriptions") {
    val (roots, jobs, plans) = forkedRuns
    // the stage whose checkpoint each SQL execution writes (the plan text
    // is in the UI's "formatted" explain mode)
    val writes = plans.flatMap { case (exec, plan) =>
      "Arguments: file:(\\S+)/([a-z_]+)/data,".r
        .findFirstMatchIn(plan).filter(_.group(1).endsWith(roots.head)).map(exec -> _.group(2))
    }
    assert(Set("ids", "shingles", "bands", "candidates", "verified", "simhash_edges",
      "suffix_edges", "components", "assignments", "kept").subsetOf(writes.values.toSet),
      writes)
    val written = jobs.filter(j => writes.contains(j.exec))
    assert(written.nonEmpty)
    written.foreach(j => assert(j.desc === writes(j.exec), j))
    // the suffix and SimHash stages did overlap others, so this is not vacuous
    assert(written.exists(j => j.desc == "suffix_edges" &&
      written.exists(o => o.desc != "suffix_edges" && o.overlaps(j))))
  }

  test("--simhash --suffix: two runs give the same SUMMARY.json stage order and the " +
      "same manifest lineage per stage") {
    val (roots, _, _) = forkedRuns
    import scala.jdk.CollectionConverters._
    def order(root: String) =
      summaryJson(root).get("stages").elements().asScala.map(_.get("stage").asText()).toList
    val expected = List("ids", "shingles", "bands", "candidates", "verified",
      "simhash_edges", "suffix_edges", "components", "assignments", "kept")
    assert(order(roots.head) === expected)
    assert(order(roots(1)) === expected)
    def lineage(root: String, stage: String) =
      new CheckpointStore(spark, root, "").manifest(stage).get("lineage")
    expected.foreach(st => assert(lineage(roots.head, st) === lineage(roots(1), st), st))
    assert(lineage(roots.head, "suffix_edges") === List("ids"))
    assert(lineage(roots.head, "simhash_edges") === List("ids", "shingles"))
    assert(lineage(roots.head, "components") === expected.take(7))
    summaryJson(roots.head).get("stages").elements().asScala
      .foreach(st => assert(st.get("start_ms").asLong() >= 0L, st))
  }

  test("--existing --existing-fuzzy: a corpus band-key job starts before the last " +
      "batch-side Bloom job ends") {
    val dir = incrementalFixture("probe_overlap")
    val (_, jobs, plans) = recorded(Pipeline.run(spark, incrementalArgs(dir)))
    val (batch, existing) = (s"$dir/batch", s"$dir/existing")
    // executions that compute corpus band keys and read nothing of the batch
    val corpusBandExecs = plans.collect {
      case (exec, plan) if plan.contains("dedup.BandKey") && plan.contains(existing) &&
        !plan.contains(batch) => exec
    }.toSet
    val corpusBands = jobs.filter(j => corpusBandExecs(j.exec))
    val bloom = jobs.filter(_.stages.exists(_.contains("BloomPrune.scala")))
    assert(corpusBands.nonEmpty, "no job computes the corpus band keys on its own")
    assert(bloom.nonEmpty, "no batch-side Bloom job")
    assert(corpusBands.map(_.start).min < bloom.map(_.end).max,
      s"corpus band keys ${corpusBands.map(j => j.start -> j.end)} wait for " +
        s"the Bloom build ${bloom.map(j => j.start -> j.end)}")
  }

  test("--existing --existing-fuzzy: every job carries a description, the shared " +
      "probe frames' as probe and the collision audit's as audit") {
    val dir = incrementalFixture("probe_described")
    // the side artifacts' writes run outside every stage too
    val (_, jobs, _) = recorded(Pipeline.run(spark, incrementalArgs(dir,
      "--link-rank", "1", "--soft-weights", "--export-format", "jsonl", "--cdc-report", "6")))
    assert(jobs.nonEmpty)
    val bare = jobs.filter(_.desc == null)
    assert(bare.isEmpty, s"jobs without a description:\n${bare.mkString("\n")}")
    assert(jobs.exists(_.desc == "probe"), jobs.map(_.desc).distinct)
    assert(jobs.exists(_.desc == "audit"), jobs.map(_.desc).distinct)
    // the eager Bloom builds run on the caller's thread, inside source prep
    val probeCode = jobs.filter(_.stages.exists(n =>
      n.contains("BloomPrune.scala") || n.contains("IncrementalDedup.scala")))
    assert(probeCode.nonEmpty && probeCode.forall(_.desc == "probe"),
      s"probe jobs not described as probe:\n${probeCode.mkString("\n")}")
  }

  test("a forked stage's failure fails FuzzyDedup.run with that exception, and run " +
      "waits for a forked stage before it throws") {
    import org.apache.spark.sql.DataFrame
    val docs = corpus.select("id", "text")
    def forking(f: String => (=> DataFrame) => DataFrame): FuzzyDedup.Forking =
      new FuzzyDedup.Forking {
        def apply(name: String): (=> DataFrame) => DataFrame = f(name)
        def fork[A](body: => A): Fork[A] = Fork(body)
      }
    val boom = new IllegalStateException("suffix_edges failed")
    val failing = forking(name => compute =>
      if (name == "suffix_edges") throw boom else FuzzyDedup.persisted(name)(compute))
    val thrown = intercept[IllegalStateException](
      FuzzyDedup.run(docs, cfg, suffix = true, stage = failing))
    assert(thrown eq boom)
    // the main chain fails while the forked stage still has jobs to run
    val t0 = System.currentTimeMillis()
    val slowFork = forking(name => compute =>
      if (name == "bands") throw new IllegalStateException("bands failed")
      else {
        if (name == "suffix_edges") Thread.sleep(1500)
        FuzzyDedup.persisted(name)(compute)
      })
    val ((e, thrownAt), jobs, _) = recorded {
      val e = intercept[IllegalStateException](
        FuzzyDedup.run(docs, cfg, suffix = true, stage = slowFork))
      val at = System.currentTimeMillis()
      Thread.sleep(500) // a job started after run threw would show here
      (e, at)
    }
    assert(e.getMessage === "bands failed")
    assert(jobs.exists(_.start >= t0 + 1500), "the forked stage ran no job")
    assert(jobs.forall(_.end <= thrownAt), s"a job ran on after run threw: $jobs")
  }

  test("main's summary line comes from the manifests: no job starts after kept " +
      "commits, and its counts are the data's") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("summary_line").toString
    val args = Pipeline.parse(Array("--synth", "600", "--output", root,
      "--num-perm", "64", "--salt", "4"))
    val (line, jobs, _) = recorded(Pipeline.summaryLine(spark, args))
    val afterKept = jobs.dropWhile(_.desc != "kept")
    assert(afterKept.nonEmpty && afterKept.forall(_.desc == "kept"),
      s"jobs after kept: ${afterKept.filter(_.desc != "kept")}")
    val m = "docs=(\\d+) kept=(\\d+) removed=(\\d+) ".r.findFirstMatchIn(line).get
    val docs = spark.read.parquet(s"$root/assignments/data").count()
    val kept = spark.read.parquet(s"$root/kept/data").count()
    val removed = spark.read.parquet(s"$root/assignments/data")
      .where(col("id") =!= col("component")).count()
    assert((m.group(1).toLong, m.group(2).toLong, m.group(3).toLong) === ((docs, kept, removed)))
    assert(docs === 600L && removed > 0L)
    val summary = summaryJson(root)
    assert(Seq("docs", "kept", "removed").map(summary.get(_).asLong()) === Seq(docs, kept, removed))
  }
}
