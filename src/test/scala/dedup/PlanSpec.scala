package dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the plans we'd want at 100 TB, not just the
  * first ones that pass. Guards against regressions that only show up at
  * scale (lost pushdown, lost pruning, accidental cartesian products,
  * whole-stage codegen breaks in the relational path).
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("parquet scan: filter pushdown + column pruning reach the reader") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("n_chars") > 100)
      .select(col("doc_id"), col("n_chars"))
    val plan = formatted(df)
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("text"),
      s"text column not pruned from a 2-column projection:\n$plan")
  }

  test("schema-enforced page scan prunes to the text column only") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    Synth.pages(spark, 20L).toDF().write.mode("overwrite").parquet(dir)
    val df = Sources.pages(spark, dir).select(col("url"), col("text"))
    val plan = formatted(df)
    // html binary (the widest column) must not be read
    assert(!plan.contains("html"), s"html not pruned:\n$plan")
  }

  test("exact dedup plans a partial+final hash aggregate (map-side combine)") {
    val plan = formatted(
      ExactDedup.assignments(spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text"))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.toLowerCase.contains("partial_min") || plan.contains("partial"),
      s"no partial aggregation before the shuffle:\n$plan")
  }

  test("salted star edges: no cartesian products, aggregates partial") {
    import spark.implicits._
    val bands = (1 to 100).map(i => BandKey(i.toLong, i % 3, (i % 7).toLong)).toDS()
    val plan = formatted(Lsh.starEdges(bands, 8))
    assert(!plan.contains("CartesianProduct"), s"cartesian in star edges:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("library stage graph: candidates read the bands stage, MinHash runs once") {
    import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, LogicalPlan, MapPartitions}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.types.ObjectType
    import spark.implicits._
    val docs = Synth.corpus(spark, 300, 3L).map(d => (Hashes.xxh64Str(d.url), d.text))
      .toDF("id", "text")
    // the plan each stage is handed, with the cache substituted as it was then
    val plans = scala.collection.mutable.Map[String, LogicalPlan]()
    val recording: FuzzyDedup.Stage = name => compute => {
      val df = compute
      plans(name) = df.queryExecution.withCachedData
      FuzzyDedup.persisted(name)(df)
    }
    FuzzyDedup.run(docs, DedupConfig(numPerm = 64, saltBuckets = 4), stage = recording)
    def minHash(p: LogicalPlan) = p.collect {
      case m: MapPartitions if (m.child match {
        case d: DeserializeToObject =>
          d.deserializer.dataType == ObjectType(classOf[DocShingles])
        case _ => false
      }) => m
    }
    assert(minHash(plans("bands")).size === 1, s"no MinHash in the bands stage:\n${plans("bands")}")
    val cand = plans("candidates")
    assert(minHash(cand).isEmpty, s"candidates recompute MinHash:\n$cand")
    val cached = cand.collect { case r: InMemoryRelation => r.output.map(_.name) }
    assert(cached.nonEmpty && cached.forall(_ === Seq("id", "band", "bucket")),
      s"candidates do not read the bands stage:\n$cand")
  }

  test("salted star edges: phase 1's streaming pass appears once in the candidates plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MapPartitions}
    import org.apache.spark.sql.types.ObjectType
    import spark.implicits._
    val docs = Synth.corpus(spark, 300, 3L).map(d => (Hashes.xxh64Str(d.url), d.text))
      .toDF("id", "text")
    val plans = scala.collection.mutable.Map[String, LogicalPlan]()
    val recording: FuzzyDedup.Stage = name => compute => {
      val df = compute
      plans(name) = df.queryExecution.withCachedData
      FuzzyDedup.persisted(name)(df)
    }
    FuzzyDedup.run(docs, DedupConfig(numPerm = 64, saltBuckets = 4), stage = recording)
    // phase 1 streams each sorted (band, bucket, salt) run into
    // (kind, band, bucket, member, target) tuples
    val cand = plans("candidates")
    val phase1 = cand.collect {
      case m: MapPartitions
          if m.outputObjAttr.dataType == ObjectType(classOf[(Int, Int, Long, Long, Long)]) => m
    }
    assert(phase1.size === 1, s"phase 1 runs ${phase1.size} times:\n$cand")
  }

  test("verification join is an equi-join on id (sort-merge or hash), never nested-loop") {
    import spark.implicits._
    val sh = Seq(DocShingles(1L, Array(1, 2)), DocShingles(2L, Array(1, 2))).toDS()
    val edges = Seq((2L, 1L)).toDF("src", "dst")
    val plan = formatted(VerifyPairs.verifyJaccard(edges, sh, 0.7))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"non-equi join in verification:\n$plan")
  }

  test("ANN brute force broadcasts the small side of the scored join") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val plan = formatted(Ann.bruteForceTopK(q, c, 3))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected a broadcast for the small query side:\n$plan")
  }

  test("no bench headline plan contains an all-pairs join (VERDICT r2 #4)") {
    // the CORRECTNESS forms of q_simhash_assign / q_suffix_assign carry
    // O(n²) oracle machinery by design; graft.Bench times benchQueries,
    // whose overrides must plan the production topology. The sanctioned
    // BroadcastNestedLoopJoins are the brute-force ANN scans
    // (q_ann_topk and the int8 family): their broadcast side is a fixed
    // few-dozen-row query slice, so the join is linear in the corpus —
    // the quantized scan IS the product (the scale path composes it with
    // IVF/LSH bucketing, q_ann_ivf/q_ann_lsh shapes).
    val sanctionedBnlj = Set("q_ann_topk", "q_ann_int8", "q_ann_int8_rerank")
    val qmap = graft.SparkEntry.benchQueries
    graft.Bench.headline.foreach { name =>
      val plan = formatted(qmap(name)(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"cartesian in $name:\n$plan")
      if (!sanctionedBnlj(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"nested-loop join in bench headline $name:\n$plan")
    }
  }

  test("hot-key grouping paths plan no window functions (VERDICT r4 #1)") {
    // Window.partitionBy over a content key (identical token set, md5,
    // fingerprint) has no map-side combine and no AQE skew split — at
    // web scale the hottest key (empty page, viral template)
    // lands every member row on ONE task. These queries — the SSJoin
    // collapseExact consumers plus the fingerprint/md5 grouping rows —
    // must plan the partial-agg groupBy + join-back shape instead.
    // (q_ordered_id / q_dup_rank keep windows BY CONTRACT: per-(lang,
    // source) ordering is their semantics, keys are bounded-cardinality.)
    val qmap = graft.SparkEntry.benchQueries
    Seq("q_dedup_summary", "q_containment", "q_contain_kept", "q_ngram_jaccard_pairs",
      "q_ssjoin_assign", "q_sim_histogram_sampled", "q_soft_dedup",
      "q_lang_overlap", "q_hll_words").foreach { name =>
      val plan = formatted(qmap(name)(spark, sf))
      assert(!plan.contains("Window"),
        s"hot-key window function in $name:\n$plan")
    }
  }

  test("source-prep operators plan as narrow transforms: zero shuffles") {
    // quality gate, URL ops and HTML extraction are per-row projections —
    // at 100 TB any accidental Exchange here would shuffle the whole
    // corpus before dedup even starts
    val qmap = graft.SparkEntry.benchQueries
    Seq("q_quality_filter", "q_url_host", "q_html_text",
      "q_minlen_filter", "q_quality", "q_main_content", "q_nfc_norm").foreach { name =>
      val plan = formatted(qmap(name)(spark, sf))
      assert(!plan.contains("Exchange"),
        s"narrow operator $name plans a shuffle:\n$plan")
    }
  }

  test("relational queries stay inside whole-stage codegen") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("lang")).agg(count(lit(1)), sum(col("n_chars")))
    df.collect() // AQE: codegen spans only visible in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    // AQE final plans mark codegen stages as "WholeStageCodegen (n)" or "*(n)"
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
  }
}
