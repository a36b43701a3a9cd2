package dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

/** Incremental dedup of a new crawl snapshot against an existing corpus —
  * "which of these batch documents are genuinely new?" Exact semantics
  * (identical to an anti-join on md5(text)) with a Bloom-prefilter
  * execution plan shaped for the asymmetry of the real workload: the
  * existing corpus is 100 TB and mostly static, the batch is a few TB and
  * mostly new.
  *
  * The reference dedups each corpus in isolation (exact_spark.py runs over
  * one input dir); incremental ingestion is what its users script around
  * it. Three-step plan, none of which ever shuffles the existing corpus:
  *
  *   1. BUILD (once per corpus, amortized across batches): a Bloom filter
  *      over the corpus's md5(text) keys, built with `treeAggregate` (one
  *      scan, map-side partial filters merged up a tree — no shuffle) and
  *      persisted next to the corpus via save/loadBloom. ~1.2 GB per 10^9
  *      docs at fpp 1e-2; at 10^11+ docs raise fpp or shard by key range.
  *   2. PREFILTER (per batch, zero shuffle): broadcast the filter; batch
  *      rows whose key the filter rejects are *provably* new (no false
  *      negatives) and pass through untouched. Survivors ≈ true duplicates
  *      + fpp × |batch|.
  *   3. CONFIRM (per batch): the surviving key set — small by construction
  *      — is broadcast against one more corpus scan (broadcast semi-join,
  *      no shuffle of either side) to eliminate the false positives, so
  *      the final answer is exact, not probabilistic.
  *
  * Intra-batch duplicates are deliberately retained (run ExactDedup /
  * FuzzyDedup within the batch separately — composition over a fused
  * operator keeps both testable).
  *
  * Materialisation: the fuzzy probe reads each of its inputs several
  * times (the Bloom build counts and then scans the batch band keys, the
  * candidate join reads them again; the corpus shingles feed both the
  * index bands and the verify side; the batch shingles both the band keys
  * and the verify side). [[buildFuzzyIndex]], [[crossPairs]] and
  * [[newDocsFuzzy]] take a [[Share]] that decides how those
  * multiply-read frames materialise. The default,
  * [[lazily]], keeps them plans and starts no thread, as a library call
  * that owns no cache should. A caller that wants each side computed
  * once passes a [[Shared]]: it persists every shared frame, starts
  * computing it at once on its own thread, and is their one
  * owner, so the caller releases it once the probe's output is
  * materialised (`dedup.Pipeline` releases it when the `ids` stage has
  * committed).
  */
object IncrementalDedup {

  /** How the probe materialises a frame that several of its readers
    * share: `share(df)` returns the frame those readers use. */
  type Share = DataFrame => DataFrame

  /** Every shared frame stays a plan: each reader recomputes it. */
  val lazily: Share = identity

  /** Persists each frame it is handed and starts materialising it
    * (persist + count) on its own thread ([[Fork]]), whose jobs carry
    * the description `probe`, so the
    * probe's independent pieces — the corpus index, the byte-new batch,
    * the batch shingles and band keys — compute at the same time while
    * the caller's thread goes on planning and building Bloom filters. A
    * reader that needs a frame before its count is done waits for the
    * cached blocks instead of computing them again.
    *
    * Call it only outside any SQL execution (see [[Fork]]). It holds every
    * frame until [[release]], which first waits for all of those threads
    * (a failed count only means the reader computes the frame itself) and
    * then unpersists them all; release is idempotent. */
  final class Shared extends Share {
    private val held = scala.collection.mutable.ArrayBuffer[(DataFrame, Fork[Long])]()
    def apply(df: DataFrame): DataFrame = {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      held.synchronized(held += d -> Fork(
        CheckpointStore.described(d.sparkSession, "probe")(d.count())))
      d
    }
    def release(): Unit = {
      val all = held.synchronized { val a = held.toList; held.clear(); a }
      all.foreach(_._2.await())
      all.foreach(_._1.unpersist(blocking = false))
    }
  }

  /** One-scan Bloom index over md5(textCol). `expectedItems < 0` counts
    * the non-null texts first (md5 is null exactly when its input is, so
    * the count needs no hashing; pass the known corpus size to skip it). */
  def buildBloom(existing: DataFrame, textCol: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): BloomFilter = {
    import existing.sparkSession.implicits._
    val keys = existing.select(md5(col(textCol)).as("h"))
      .where(col("h").isNotNull).as[String]
    val n =
      if (expectedItems > 0) expectedItems
      else existing.where(col(textCol).isNotNull).count()
    keys.rdd.treeAggregate(BloomFilter.create(math.max(n, 1L), fpp))(
      (f, s) => { f.putString(s); f },
      (a, b) => { a.mergeInPlace(b); a })
  }

  def saveBloom(spark: SparkSession, bloom: BloomFilter, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  def loadBloom(spark: SparkSession, path: String): BloomFilter = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try BloomFilter.readFrom(in) finally in.close()
  }

  /** Persisted LSH index of an existing corpus: band-bucket keys for
    * candidate generation plus per-doc shingle sets for exact verification.
    * Both are plain DataFrames the caller checkpoints once per corpus
    * (CheckpointStore) and reuses across every incoming batch — the 100-TB
    * side is scanned at index-build time and never re-shingled again. */
  case class FuzzyIndex(bands: DataFrame, shingles: DataFrame)

  /** The index over `existing`. Its shingle sets feed both the band keys
    * and the verify side, so `share` decides whether they are computed
    * once or once per reader; its band keys (the corpus MinHash, the
    * probe's costliest part) go through `share` too, so a [[Shared]]
    * starts computing them as soon as the index is built, ahead of the
    * probe that reads them. */
  def buildFuzzyIndex(existing: DataFrame, cfg: DedupConfig,
      share: Share = lazily): FuzzyIndex = {
    import existing.sparkSession.implicits._
    val sh = share(Lsh.shingleSets(existing, cfg).toDF())
    FuzzyIndex(share(Lsh.bandKeys(sh.as[DocShingles], cfg).toDF()), sh)
  }

  /** Persist the index: the expensive side of incremental fuzzy dedup is
    * shingling + 250-lane MinHash over the 100-TB corpus — saved once here,
    * never recomputed per batch. Bands are written repartitioned on
    * (band, bucket) so bucket-range scans cluster; config identity is the
    * caller's contract (store under a cfg.configHash-derived path — batch
    * queries MUST band with the same config or buckets never collide). */
  def saveFuzzyIndex(index: FuzzyIndex, path: String): Unit = {
    index.bands.repartition(col("band"), col("bucket"))
      .write.mode("overwrite").parquet(s"$path/bands")
    index.shingles.write.mode("overwrite").parquet(s"$path/shingles")
  }

  def loadFuzzyIndex(spark: SparkSession, path: String): FuzzyIndex =
    FuzzyIndex(
      spark.read.parquet(s"$path/bands"),
      spark.read.parquet(s"$path/shingles"))

  /** Batch rows with NO verified near-duplicate (exact Jaccard ≥
    * cfg.threshold) in `existing` — the fuzzy counterpart of [[newDocs]].
    * Candidates come from shared LSH band buckets (identical banding config
    * as the in-corpus FuzzyDedup, so recall matches the flagship's), then
    * every candidate is exactly verified against the existing doc's shingle
    * set; one verified hit drops the batch doc. Batch docs below
    * cfg.minLength tokens have no shingles and are always new — the same
    * rule the in-corpus fuzzy path applies.
    *
    * Scale shape: the existing corpus is never shuffled per batch — its
    * bands/shingles come from the amortized [[FuzzyIndex]]; the candidate
    * join is an equi-join on (band, bucket) whose batch side is small, and
    * AQE's skew-join split handles hot boilerplate buckets on the corpus
    * side. `bucketCap > 0` additionally bounds the corpus side to the cap's
    * min-id docs per (band, bucket) (bounded-buffer aggregation, no hot-key
    * window task — Sampling.capPerKey): a batch doc in a hot bucket is
    * still verified against cap candidates in EVERY band it shares, so
    * recall degrades gracefully while candidate volume stays
    * ≤ cap × bands × |batch|. Default 0 = exact (oracle semantics).
    *
    * `share` materialises the probe's multiply-read frames (see the
    * object's scaladoc) and the set of dropped batch ids, so every reader
    * of the result re-reads `batch` and that set instead of re-running
    * the probe. `batch` itself is the caller's to share. */
  def newDocsFuzzy(
      existing: DataFrame,
      batch: DataFrame,
      cfg: DedupConfig,
      index: Option[FuzzyIndex] = None,
      bucketCap: Int = 0,
      pruneFpp: Double = 0.0,
      share: Share = lazily): DataFrame = {
    val dupIds = share(crossPairs(existing, batch, cfg, index, bucketCap, pruneFpp, share)
      .select(col("bid")).distinct())
    batch.join(dupIds, batch(cfg.idCol).cast("long") === dupIds("bid"), "left_anti")
  }

  /** Incremental SEMANTIC dedup: drop batch docs whose embedding has
    * cosine ≥ threshold to ANY existing-corpus embedding — the
    * embedding-space member of the incremental family (exact =
    * [[newDocs]], near-dup = [[newDocsFuzzy]]). Same asymmetric shape:
    * the corpus side is sign-LSH-bucketed once (radius-0 index, capped
    * per bucket), the batch side multi-probes within `probeRadius` bits,
    * candidates are exactly cosine-verified — a batch doc dies only on a
    * REAL ≥-threshold hit, so precision is exact and recall follows the
    * (threshold, nbits, probeRadius) binomial-tail argument of
    * [[Ann.cosineDedupLsh]].
    *
    * Byte-identical NON-ZERO embeddings are caught with probability 1 by
    * a SEPARATE exact-match prefilter (xxhash64(vec)-keyed, Bloom-pruned
    * map-side, array-equality verified — the corpus never shuffles its
    * float arrays for it), NOT by the LSH path: this index is asymmetric
    * (only the corpus side is
    * bucketed), so a corpus vector evicted by `bucketCap` — guaranteed
    * once bucket occupancy exceeds the cap, e.g. any ≳1M-vector corpus at
    * nbits=8's 256 buckets — would otherwise be unreachable from the
    * batch side entirely and its exact duplicates silently kept. The
    * prefilter is cap-immune; LSH recall claims apply to NEAR-duplicates
    * and degrade gracefully with eviction.
    * Returns the kept batch rows (all batch columns). */
  def newDocsSemantic(
      corpusVecs: DataFrame,
      batchVecs: DataFrame,
      threshold: Double,
      dim: Int,
      nbits: Int = 8,
      seed: Long = 42L,
      probeRadius: Int = 2,
      bucketCap: Int = 4096): DataFrame = {
    val spark = batchVecs.sparkSession
    import spark.implicits._
    val corpus = corpusVecs.select(col("id").cast("long").as("id"), col("vec"))
    val batch = batchVecs.select(col("id").cast("long").as("id"), col("vec"))
    val index = Ann.capBuckets(Ann.signBuckets(corpus, dim, nbits, seed), bucketCap)
      .join(corpus, "id")
      .select(col("bucket"), col("id").as("cid"), col("vec").as("cvec"))
    val probes = Ann.signBuckets(batch, dim, nbits, seed)
      .select(col("id"), col("bucket")).as[(Long, Long)]
      .flatMap { case (id, b) =>
        Ann.probeSet(b, nbits, probeRadius).iterator.map(p => (id, p))
      }
      .toDF("bid", "bucket")
      .join(batch.select(col("id").as("bid"), col("vec").as("bvec")), "bid")
    val lshHit = probes.join(index, Seq("bucket"))
      .where(Ann.cosine(col("bvec"), col("cvec")) >= lit(threshold))
      .select(col("bid").as("id"))
    // exact-duplicate prefilter, immune to bucket capping. The join key
    // is xxhash64(vec) — 8 bytes, NOT the float array itself, so the
    // corpus never shuffles its vectors for this — and the corpus side is
    // Bloom-pruned map-side to ~|batch ∩ corpus| + fpp·|corpus| rows
    // before the join's Exchange (same BloomPrune idiom as crossPairs);
    // array equality on the surviving candidates removes hash collisions,
    // so the filter stays exact. Zero vectors are excluded on BOTH sides:
    // cosine(0, ·) is undefined (Ann.cosine yields null, which fails the
    // LSH path's ≥-threshold filter too), so a no-signal embedding is
    // never "a duplicate of" another no-signal embedding. cosine(v, v) = 1
    // for any non-zero v, so an exact hit is always a true hit; a null vec
    // never hashes equal and stays new.
    val nonZero = exists(col("vec"), v => v =!= lit(0f))
    val batchKeyed = batch.where(nonZero).withColumn("vh", xxhash64(col("vec")))
    val corpusKeyed = corpus.where(nonZero)
      .select(xxhash64(col("vec")).as("vh"), col("vec").as("cvec"))
    val exactHit = batchKeyed
      .join(BloomPrune.prune(corpusKeyed, col("vh"), batchKeyed, col("vh")), Seq("vh"))
      .where(col("vec") === col("cvec"))
      .select(col("id"))
    val hit = lshHit.unionByName(exactHit).distinct()
    batchVecs.join(hit, Seq("id"), "left_anti")
  }

  /** Verified near-duplicate PAIRS across two corpora — the analysis form
    * of [[newDocsFuzzy]] (which keeps only "does the batch doc have ≥1
    * match"): every (batch doc, existing doc) pair with exact Jaccard ≥
    * cfg.threshold, as (bid, eid, inter, uni). Used for dedup audits
    * ("what did each dropped doc match?") and corpus-overlap studies.
    * Same plan: batch-side banding, (band, bucket) equi-join against the
    * amortized index, exact verify — never an all-pairs join.
    *
    * `pruneFpp > 0` turns on Bloom semi-join reduction of the corpus index
    * (BloomPrune): one pass over the SMALL side (batch bands, b×|batch|
    * keys) builds a filter on xxhash64(band, bucket); the CORPUS side is
    * probed map-side inside codegen directly above its scan, so index rows
    * in buckets the batch never touches die before the join's Exchange —
    * the difference between shuffling 10^12 index rows per batch and
    * shuffling ~|collisions| + fpp·|index|. Exact: false positives are
    * eliminated by the (band, bucket) equi-join itself.
    *
    * `share` decides how the batch shingles (read by the band keys and
    * the verify side), the batch band keys (read by the filter's count
    * and build and by the candidate join) and a built index's corpus
    * shingles and band keys materialise. */
  def crossPairs(
      existing: DataFrame,
      batch: DataFrame,
      cfg: DedupConfig,
      index: Option[FuzzyIndex] = None,
      bucketCap: Int = 0,
      pruneFpp: Double = 0.0,
      share: Share = lazily): DataFrame = {
    import batch.sparkSession.implicits._
    val idx = index.getOrElse(buildFuzzyIndex(existing, cfg, share))
    val bSh = share(Lsh.shingleSets(batch, cfg).toDF()).as[DocShingles]
    val bBands = share(Lsh.bandKeys(bSh, cfg).toDF())
    val bandKey = xxhash64(col("band"), col("bucket"))
    val pruned =
      if (pruneFpp <= 0) idx.bands
      else BloomPrune.prune(idx.bands, bandKey, bBands, bandKey, fpp = pruneFpp)
    val exBands =
      if (bucketCap <= 0) pruned
      else Sampling.capPerKey(pruned,
          struct(col("band"), col("bucket")), col("id"), bucketCap)
        .select(col("key.band").as("band"), col("key.bucket").as("bucket"), col("id"))
    val cand = bBands.select(col("band"), col("bucket"), col("id").as("bid"))
      .join(exBands.select(col("band"), col("bucket"), col("id").as("eid")),
        Seq("band", "bucket"))
      .select(col("bid"), col("eid"))
      .distinct()
    // exact verify across the two shingle stores (VerifyPairs semantics;
    // separate stores because a re-crawled url legitimately carries the
    // same id on both sides — a union would conflate them)
    val s1 = bSh.toDF().select(col("id").as("bid"), col("shingles").as("sh_b"))
    val s2 = idx.shingles.select(col("id").as("eid"), col("shingles").as("sh_e"))
    val num = math.round(cfg.threshold * 1000000L)
    val iu = udf { (a: Array[Int], b: Array[Int]) =>
      val (i, u) = VerifyPairs.jaccardCounts(a, b)
      Array(i, u)
    }
    cand.hint("shuffle_hash")
      .join(s1, "bid")
      .hint("shuffle_hash") // candidate-sized subtree stays the build side
      .join(s2, "eid")
      .withColumn("iu", iu(col("sh_b"), col("sh_e")))
      .where(col("iu").getItem(0).cast("long") * 1000000L >=
        lit(num) * col("iu").getItem(1).cast("long"))
      .select(col("bid"), col("eid"),
        col("iu").getItem(0).cast("long").as("inter"),
        col("iu").getItem(1).cast("long").as("uni"))
  }

  /** Batch rows whose text does not occur (byte-identical) in `existing`.
    * Exact: Bloom false positives are removed by the confirm join; null
    * texts are always new (md5(null) = null matches nothing — same rule on
    * the SQL-oracle side). Pass a prebuilt `bloom` to amortize step 1. */
  def newDocs(existing: DataFrame, batch: DataFrame,
      idCol: String = "id", textCol: String = "text",
      bloom: Option[BloomFilter] = None, fpp: Double = 0.01): DataFrame = {
    val spark = batch.sparkSession
    val bf = bloom.getOrElse(buildBloom(existing, textCol, -1L, fpp))
    val bc = spark.sparkContext.broadcast(bf)
    val might = udf { (h: String) => h != null && bc.value.mightContainString(h) }
    val keyed = batch.withColumn("__h", md5(col(textCol)))
    // Step 2: provably-new rows never reach a join.
    val suspectHashes = keyed.where(might(col("__h")))
      .select(col("__h").as("h")).distinct()
    // Step 3: one corpus scan, broadcast semi-join (|suspects| is small:
    // true-dup keys + fpp·|batch|; if a pathological batch overflows the
    // broadcast budget, drop the hint and AQE plans a shuffle join).
    val confirmed = existing.select(md5(col(textCol)).as("h"))
      .where(col("h").isNotNull)
      .join(broadcast(suspectHashes), Seq("h"), "left_semi")
      .distinct()
    keyed.join(broadcast(confirmed), keyed("__h") === confirmed("h"), "left_anti")
      .drop("__h")
  }
}
