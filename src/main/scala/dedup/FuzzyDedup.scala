package dedup

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The flagship MinHash-LSH near-dup pipeline (reference fuzzy_spark2.py
  * end-to-end trace, SURVEY.md §3.1), Spark-first, written once as a
  * graph of named stages:
  *
  *   shingles     docs → sorted distinct shingle-hash sets (typed
  *                mapPartitions, min-length filter inside)
  *   bands        MinHash lanes → LSH band keys
  *   candidates   salted star edges per (band, bucket) — or, with
  *                `exactJoin`, SSJoin prefix-filter candidates
  *   verified     exact-Jaccard verification (north_rule; reference skips it)
  *   [simhash_edges] [suffix_edges]  extra verified edge sources
  *   components   large-star/small-star connected components
  *   assignments  component = min id; uniques = self
  *
  * and [[kept]] = representative filter via left-anti join.
  *
  * Every stage goes through one `stage(name)(compute)` seam, so the graph
  * does not decide how a stage materialises: the library default
  * ([[persisted]]) caches each stage once, `dedup.Pipeline` passes its
  * `CheckpointStore.stages` and gets the same chain as resumable parquet
  * checkpoints under the same names.
  *
  * The graph is a dependency graph, not a fixed sequence. `suffix_edges`
  * reads only the docs, so it starts together with `shingles`;
  * `simhash_edges` reads only the shingles, so it starts as soon as they
  * are committed. Both run alongside `bands → candidates → verified`, and
  * `components` joins them (SimHash first) before it starts. They run on
  * their own threads only when the stage is [[Forking]], i.e. safe
  * to enter from several threads; with any other stage each is computed
  * where it is joined, so the stages run one at a time in the order
  * `shingles, bands, candidates, verified, simhash_edges, suffix_edges,
  * components, assignments`.
  *
  * Everything stays in Dataset/DataFrame land — predicate pushdown, column
  * pruning and AQE all apply (the reference's `.rdd.flatMap` drop defeats
  * them, fuzzy_spark2.py:607-619).
  *
  * Topology note: candidates are *star* edges (bucket member → bucket min),
  * linear in bucket size — a hot bucket never materializes quadratic pairs.
  * Verification prunes star edges, so a pair (b,c) whose shared buckets are
  * all hubbed by a non-duplicate smaller id could be lost; with r ≈ 10
  * agreeing lanes per bucket a false-positive hub needs jaccard^10-level
  * collisions (~1e-5) — the recall gate (≥0.99) absorbs it and the
  * test-suite measures it against a brute-force oracle.
  */
object FuzzyDedup {

  case class Result(
      shingles: Dataset[DocShingles],
      candidates: DataFrame, // (src, dst) candidate edges
      edges: DataFrame,      // verified (or pass-through) edges
      assignments: DataFrame // (id, component) for every doc that passed min-length
  )

  /** How one named stage materialises: `stage(name)(compute)` returns the
    * output every later reader of the stage shares. */
  type Stage = String => (=> DataFrame) => DataFrame

  /** A [[Stage]] that may be entered from several threads at once;
    * [[run]] starts its independent stages through `fork`. */
  trait Forking extends Stage {
    /** Runs `body` on its own thread ([[Fork]]). */
    def fork[A](body: => A): Fork[A]
  }

  /** The library's materialisation: persist and count, so a stage is
    * computed exactly once however many readers it has (the star-edge
    * grouping reads the bands twice, verification the shingles twice). */
  val persisted: Stage = _ => compute => {
    val df = compute.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Run the stage graph over `docs` (`cfg.idCol`, `cfg.textCol`).
    *
    * The edge sources are the CLI's: `exactJoin` replaces banding with
    * SSJoin candidates (the `bands` stage is then never computed),
    * `simhash` and `suffix` add their verified edges to the components.
    * `cfg.bandsPerPass` splits the star-edge shuffle into band-range passes
    * over the one `bands` stage.
    *
    * A failure in a forked stage is thrown from run as it was thrown, and
    * run neither returns nor throws while a forked stage still runs.
    * Before it returns or throws, run unpersists every stage output it was
    * handed: the returned frames stay valid as plans, and a run leaks no
    * cache. Outputs that are not cached (checkpoint reads) are unaffected. */
  def run(
      docs: DataFrame,
      cfg: DedupConfig,
      exactJoin: Boolean = false,
      simhash: Boolean = false,
      suffix: Boolean = false,
      stage: Stage = persisted): Result = {
    val spark = docs.sparkSession
    import spark.implicits._
    val outputs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def named(name: String)(compute: => DataFrame): DataFrame = {
      val df = stage(name)(compute)
      outputs.synchronized(outputs += df)
      df
    }
    // an independent stage and its join: forked when `stage` allows it,
    // otherwise computed where it is joined
    val forks = scala.collection.mutable.ArrayBuffer[Fork[DataFrame]]()
    def independent(name: String)(compute: => DataFrame): () => DataFrame = stage match {
      case f: Forking =>
        val fork = f.fork(named(name)(compute))
        forks += fork
        () => fork.join()
      case _ =>
        lazy val df = named(name)(compute)
        () => df
    }

    try {
      val suffixEdges =
        if (!suffix) None
        else Some(independent("suffix_edges") {
          SuffixDedup.verifiedEdges(docs, cfg).select(col("src"), col("dst"))
        })
      val shingles = named("shingles")(Lsh.shingleSets(docs, cfg).toDF()).as[DocShingles]
      val simEdges =
        if (!simhash) None
        else Some(independent("simhash_edges") {
          SimHash.verifiedEdges(shingles, cfg).select(col("src"), col("dst"))
        })
      // exactJoin never reads the bands, so that mode does not band at all
      val bands =
        if (exactJoin) None
        else Some(named("bands")(Lsh.bandKeys(shingles, cfg).toDF()).as[BandKey])
      val candidates = named("candidates") {
        val (nb, _) = cfg.bandsRows
        val bp = cfg.bandsPerPass
        def starEdges(b: Dataset[BandKey]) =
          Lsh.groupEdges(b, cfg.saltBuckets, cfg.allPairsCap, cfg.chainEdges)
        bands match {
          case None =>
            // SSJoin prefix-filtered candidates over the same shingle sets — a
            // provable superset of every ≥-threshold pair (no banding miss
            // rate); the verify stage trims it to exactly the true pairs
            SSJoin.candidates(
              shingles.select(col("id"), col("shingles").as("toks")), cfg.threshold)
              .select(greatest(col("id_a"), col("id_b")).as("src"),
                least(col("id_a"), col("id_b")).as("dst"))
          case Some(b) if bp <= 0 || bp >= nb => starEdges(b)
          case Some(b) =>
            // batched banding (reference buckets_per_shuffle loop over the
            // signature checkpoint, lsh_multi.py:108-146): each pass reads only
            // its band range of the one bands stage — the predicate pushes to
            // a parquet checkpoint's scan — so in-flight shuffle is
            // n·bandsPerPass rows. Edges are generated per (band, bucket, salt)
            // group exactly as in one shot, so after the distinct the edge SET
            // is identical (LshSpec).
            (0 until nb by bp).map { s =>
              starEdges(b.filter(col("band") >= s && col("band") < math.min(s + bp, nb)))
            }.reduce(_ union _).distinct()
        }
      }
      val verified = named("verified") {
        if (cfg.verify)
          VerifyPairs.verifyJaccard(candidates, shingles, cfg.threshold)
            .select(col("src"), col("dst"))
        else candidates
      }
      // joined before components starts, so its wall holds no waiting
      val extraEdges = simEdges.map(_()) ++ suffixEdges.map(_())
      val components = named("components") {
        ConnectedComponents.runAdaptive((Seq(verified) ++ extraEdges).reduce(_ unionByName _))
      }
      val assignments = named("assignments") {
        ConnectedComponents.assignAll(
          docs.select(col(cfg.idCol).cast("long").as("id")), components)
      }
      Result(shingles, candidates, verified, assignments)
    } finally {
      forks.foreach(_.await())
      outputs.foreach(_.unpersist(blocking = false))
    }
  }

  /** (id, component) for every doc in `docs`. */
  def assignments(docs: DataFrame, cfg: DedupConfig): DataFrame =
    run(docs, cfg).assignments

  /** Rows kept: one representative (the min id) per duplicate cluster,
    * plus all uniques — reference keep-null-or-self filter + anti-join
    * (fuzzy_spark2.py:692-697, fuzzy multi gpu/removal.py:19-36). */
  def kept(docs: DataFrame, cfg: DedupConfig): DataFrame = {
    val removal = assignments(docs, cfg)
      .where(col("id") =!= col("component"))
      .select(col("id").as(cfg.idCol))
    docs.join(removal, Seq(cfg.idCol), "left_anti")
  }

  /** QUALITY-WEIGHTED representative selection: given cluster assignments
    * (id, component) and a numeric quality score per doc, the kept id per
    * cluster is the argmax of (quality, then MIN id as the deterministic
    * tie-break) — "keep the best copy", the production alternative to the
    * reference's arbitrary min-id rule (a near-dup cluster's members
    * differ in truncation, boilerplate and extraction quality; min-id
    * throws that information away).
    *
    * Input `scored`: (id, quality) — quality any numeric column (token
    * count, Gopher/char-LM score, PageRank of the host…). Returns one row
    * per component: (component, keep_id, quality, group_n).
    *
    * Scale shape: a single partial-aggregating groupBy on component —
    * max_by/count combine map-side, so the 10M-member boilerplate cluster
    * costs one reduce key, never a window over its rows and never a
    * collect. (min_by over (-quality, id) = highest quality, then lowest
    * id; quality is cast to double for the negation so any numeric input
    * column works.) */
  def bestRepresentatives(assign: DataFrame, scored: DataFrame): DataFrame = {
    val joined = assign.select(col("id"), col("component"))
      .join(scored.select(col("id"), col("quality").cast("double").as("q")), "id")
    joined.groupBy("component")
      .agg(
        min_by(col("id"), struct((-col("q")).as("nq"), col("id"))).as("keep_id"),
        max(col("q")).as("quality"),
        count(lit(1)).as("group_n"))
  }

  /** SOFT dedup: duplicate-aware reweighting instead of removal. Every
    * doc keeps a training weight 1/|its cluster| in integer ppm (one
    * canonical truncating division, SQL-replayable) — a cluster of m
    * near-identical pages contributes ~one doc's worth of gradient in
    * aggregate while keeping its internal variation available, the
    * retain-and-downweight alternative the hard `kept` rule discards
    * (cf. SoftDedup-style duplicate-aware sampling; the reference has
    * removal only). Input: (id, component) from [[assignments]].
    * Returns (id, component, csize, weight_ppm).
    *
    * Scale shape: one partial-aggregating groupBy on component (the
    * 10M-member boilerplate cluster is one reduce key) and an
    * AQE-skew-splittable equi-join back — never a window over cluster
    * members. */
  def softWeights(assign: DataFrame): DataFrame = {
    val sizes = assign.groupBy(col("component"))
      .agg(count(lit(1)).as("csize"))
    assign.select(col("id"), col("component"))
      .join(sizes, "component")
      .withColumn("weight_ppm", expr("1000000 DIV csize"))
      .select(col("id"), col("component"), col("csize"), col("weight_ppm"))
  }
}
