package dedup

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming dedup — the ingest-time counterpart of the batch
  * pipeline for a continuously arriving page stream (Common-Crawl dumps
  * land as a stream of WARC batches; the reference processes them as
  * snapshots, its incremental variant is the seen-set loop in
  * fuzzy single gpu/dedup.py:61-75 — state = everything seen so far).
  *
  * Streaming semantics vs batch:
  *   - batch picks the min-id representative of each duplicate CLUSTER
  *     (global connected components); a stream cannot see the future, so
  *     the representative is the FIRST-SEEN member (by event time, doc id
  *     tie-break) — the reference's own seen-set semantics. A later doc
  *     similar to an earlier one is flagged against that earlier doc.
  *   - state is bounded by the watermark: bucket state expires
  *     `watermark` after the last event time that touched it, exactly the
  *     horizon inside which `dropDuplicatesWithinWatermark` guarantees
  *     exact dedup. At 10¹²-doc scale unbounded seen-sets are impossible;
  *     the watermark is the honest contract ("duplicates within N days of
  *     each other are caught").
  *
  * Two operators:
  *   - [[exactKept]]: content-hash dedup via
  *     `dropDuplicatesWithinWatermark` — Spark's own bounded-state
  *     streaming dedup, state = one row per distinct content key in the
  *     watermark horizon (batch twin: A1/A2 ExactDedup).
  *   - [[fuzzyMatches]]: incremental MinHash-LSH. Each doc's full
  *     signature is computed ONCE (the same `Lsh.signature` +
  *     `Hashes.xxh64Ints` band buckets as the batch path, so streaming
  *     and batch agree on candidate buckets), fanned out to its
  *     `numBands` bucket keys, and matched per bucket against the
  *     first-seen representative held in `flatMapGroupsWithState` state.
  *     Similarity is the matching-lane fraction of the two signatures —
  *     the unbiased MinHash estimate of Jaccard over numPerm=250 lanes
  *     (±~0.03 at 250 lanes; the stream cannot re-read the earlier doc's
  *     shingles for an exact verify without unbounded state, so the
  *     estimator IS the verification, at the reference's own fidelity —
  *     it trusts bucket equality alone, buckets_edges.py:54).
  *
  * Scale shape: state per bucket = rep id + the packed signature (~1 KB
  * at 250 full 32-bit lanes; `stateBits` < 32 engages b-bit MinHash —
  * Li & König 2011 — shrinking BOTH the banding shuffle payload and the
  * state store 32/b×, e.g. 125 B/bucket at b=4, with the estimator
  * bias-corrected for the 2^−b per-lane false-match rate; band KEYS
  * still hash full lanes, so bucket recall is unchanged). Keyed state is
  * partitioned by bucket hash across executors; the per-batch shuffle is
  * the same salted-width banding shuffle as batch (numBands rows per
  * doc). No per-batch collect, no driver state.
  */
object StreamingDedup {

  /** One (bucket, doc) probe: the doc's signature rides along — packed to
    * `stateBits` bits per lane (b-bit MinHash, Li & König 2011) — so the
    * bucket's stateful matcher can estimate Jaccard against the rep. */
  case class Probe(bucket: Long, id: Long, ts: java.sql.Timestamp, sig: Array[Byte])

  /** Per-bucket state: first-seen representative and its packed signature. */
  case class BucketState(repId: Long, repTs: Long, sig: Array[Byte])

  // ------------------------------------------------ b-bit lane packing
  /** Pack the lowest `b` bits of each MinHash lane into a dense bit
    * array (LSB-first within each lane) — b-bit MinHash (Li & König
    * 2011): at b=4 the 250-lane signature shrinks 1000 B → 125 B in
    * BOTH the banding shuffle and the keyed state store, at the price of
    * a 2^−b per-lane false-match rate the estimator corrects for. b=32
    * is the lossless identity layout. */
  private[dedup] def packLanes(sig: Array[Int], b: Int): Array[Byte] = {
    require(b >= 1 && b <= 32, s"stateBits must be 1..32, got $b")
    val out = new Array[Byte]((sig.length * b + 7) >>> 3)
    var bit = 0
    var i = 0
    while (i < sig.length) {
      val v = sig(i)
      var k = 0
      while (k < b) {
        if (((v >>> k) & 1) != 0)
          out(bit >>> 3) = (out(bit >>> 3) | (1 << (bit & 7))).toByte
        bit += 1; k += 1
      }
      i += 1
    }
    out
  }

  /** Number of lanes whose packed b-bit values are equal. */
  private[dedup] def matchingLanes(a: Array[Byte], b: Array[Byte],
      lanes: Int, bBits: Int): Int = {
    var m = 0
    var lane = 0
    while (lane < lanes) {
      var eq = true
      val base = lane * bBits
      var k = 0
      while (eq && k < bBits) {
        val bit = base + k
        if ((((a(bit >>> 3) >>> (bit & 7)) ^ (b(bit >>> 3) >>> (bit & 7))) & 1) != 0)
          eq = false
        k += 1
      }
      if (eq) m += 1
      lane += 1
    }
    m
  }

  /** Bias-corrected Jaccard estimate from b-bit lane matches: two lanes
    * of DIFFERENT minhash values still collide on their lowest b bits
    * with probability ~2^−b, so Ĵ = (m/n − 2^−b)/(1 − 2^−b), clamped at
    * 0. Identical signatures estimate exactly 1.0 at any b. */
  private[dedup] def estimateJ(m: Int, lanes: Int, bBits: Int): Double = {
    val p = 1.0 / math.pow(2.0, bBits)
    math.max(0.0, (m.toDouble / lanes - p) / (1.0 - p))
  }

  /** A flagged near-duplicate: `id` arrived after `dupOf` and shares a
    * band bucket with estimated Jaccard ≥ threshold. */
  case class Match(id: Long, ts: java.sql.Timestamp, dupOf: Long, estJaccard: Double)

  /** Exact streaming dedup: first occurrence of each content key within
    * the watermark horizon passes, later byte-identical copies drop.
    * Emits the full payload row (batch twin: ExactDedup.kept). */
  def exactKept(
      pages: DataFrame,
      tsCol: String = "warc_ts",
      textCol: String = "text",
      watermark: String = "10 minutes"): DataFrame =
    pages
      .withColumn("content_key", xxhash64(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_key")
      .drop("content_key")

  /** Append stream of near-duplicate flags: one row per (id, dupOf, band
    * bucket) where `id` shares that bucket with the earlier-seen `dupOf`
    * at estimated Jaccard ≥ cfg.threshold. A doc in no emitted row is
    * novel (the stream analogue of `id === component`).
    *
    * A pair found in several bands is emitted once per matching band —
    * always within ONE micro-batch (all probes of a doc travel together),
    * never across batches. Spark's global-watermark correctness checker
    * rejects a chained stateful `dropDuplicatesWithinWatermark` after
    * flatMapGroupsWithState, so uniqueness is the consumer's one-liner:
    * `.dropDuplicates("id","dupOf")` inside `foreachBatch`, or a batch
    * distinct downstream (what [[fuzzyMatchesBatch]] does).
    *
    * `ttlMs` must be ≥ the watermark delay: bucket state older than the
    * watermark can never match (rows that old no longer arrive), so it
    * times out and is removed.
    */
  def fuzzyMatches(
      pages: DataFrame,
      cfg: DedupConfig,
      tsCol: String = "warc_ts",
      watermark: String = "10 minutes",
      ttlMs: Long = 10L * 60L * 1000L,
      stateBits: Int = 32): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val (nb, r) = cfg.bandsRows
    val lanes = nb * r
    val threshold = cfg.threshold

    val matcher =
      (bucket: Long, rows: Iterator[Probe], state: GroupState[BucketState]) => {
        if (state.hasTimedOut) { state.remove(); Iterator.empty[Match] }
        else {
          val docs = rows.toArray.sortBy(p => (p.ts.getTime, p.id))
          val (st, out) = matchFuzzy(state.getOption.orNull, docs, lanes, stateBits, threshold)
          if (st != null) {
            state.update(st)
            // expire the bucket once the watermark passes last-touch + ttl
            val maxTs = docs.foldLeft(0L)((m, p) => math.max(m, p.ts.getTime))
            state.setTimeoutTimestamp(maxTs + ttlMs)
          }
          out.iterator
        }
      }

    fuzzyProbes(pages, cfg, tsCol, stateBits)
      .withWatermark("ts", watermark)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(matcher)
      .toDF()
  }

  /** Batch-mode twin of [[fuzzyMatches]] for testing and backfill: the
    * identical probe generation and first-seen-rep matching, executed on
    * a static DataFrame via groupByKey+flatMapGroups (no state, each
    * bucket sees all its docs at once). Guarantees: same buckets, same
    * estimator, same (ts, id) ordering as the stream — so a streamed run
    * over the same rows emits the same match SET for any batch slicing
    * that is event-time monotonic (later micro-batches carry later
    * timestamps; out-of-order slicings can elect a different first-seen
    * rep, the inherent stream/batch divergence of seen-set semantics). */
  def fuzzyMatchesBatch(
      pages: DataFrame,
      cfg: DedupConfig,
      tsCol: String = "warc_ts",
      stateBits: Int = 32): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val (nb, r) = cfg.bandsRows
    val lanes = nb * r
    val threshold = cfg.threshold
    fuzzyProbes(pages, cfg, tsCol, stateBits)
      .groupByKey(_.bucket)
      .flatMapGroups { (_: Long, rows: Iterator[Probe]) =>
        val docs = rows.toArray.sortBy(p => (p.ts.getTime, p.id))
        matchFuzzy(null, docs, lanes, stateBits, threshold)._2.iterator
      }
      .toDF()
      .dropDuplicates("id", "dupOf")
  }

  /** The fuzzy family's probes, shared by both twins: one per (doc,
    * band), keyed by the band's hash over the doc's full MinHash lanes. */
  private def fuzzyProbes(pages: DataFrame, cfg: DedupConfig, tsCol: String,
      stateBits: Int): Dataset[Probe] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val (nb, r) = cfg.bandsRows
    val (pa, pb) = Hashes.permutations(nb * r, cfg.seed)
    val ngram = cfg.ngram
    val minLen = cfg.minLength
    pages
      .select(col(cfg.idCol).cast("long").as("id"),
        col(tsCol).cast("timestamp").as("ts"), col(cfg.textCol).as("text"))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions { it =>
        val scratch = new Array[Byte](r * 4)
        it.flatMap { case (id, ts, text) =>
          val sh =
            if (text == null) Array.emptyIntArray
            else TextNorm.shingleHashes(text, ngram, minLen)
          if (sh.isEmpty || ts == null) Iterator.empty
          else {
            val sig = Lsh.signature(sh, pa, pb)
            // band keys hash the FULL lanes (bucket recall is unchanged
            // by packing); only the payload that travels and sits in
            // state is b-bit packed
            val packed = packLanes(sig, stateBits)
            (0 until nb).iterator.map { band =>
              Probe(Hashes.xxh64Ints(sig, band * r, (band + 1) * r, band.toLong, scratch),
                id, ts, packed)
            }
          }
        }
      }
  }

  /** First-seen-rep matching over one bucket's probes in (ts, id) order,
    * shared by both twins: `rep` is the bucket's rep so far (null if
    * none — the first probe then becomes it); every later probe of
    * another doc matches it at estimated Jaccard ≥ threshold. Returns the
    * rep after these probes and the matches. */
  private def matchFuzzy(rep: BucketState, docs: Array[Probe], lanes: Int,
      bBits: Int, threshold: Double): (BucketState, Seq[Match]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Match]
    var st = rep
    docs.foreach { p =>
      if (st == null) st = BucketState(p.id, p.ts.getTime, p.sig)
      else if (st.repId != p.id) {
        val est = estimateJ(matchingLanes(p.sig, st.sig, lanes, bBits), lanes, bBits)
        if (est >= threshold) out += Match(p.id, p.ts, st.repId, est)
      }
    }
    (st, out.toSeq)
  }

  // ---------------------------------------------------------- semantic
  /** One (bucket, doc) probe of the semantic stream: `home` is the doc's
    * own sign-LSH bucket (only home probes may become a bucket's rep —
    * state stays O(docs), not O(docs·probes)); the vector rides along for
    * EXACT cosine verification. */
  case class VecProbe(bucket: Long, home: Long, id: Long,
      ts: java.sql.Timestamp, vec: Array[Float])

  /** Per-bucket state: first-seen HOME doc and its vector. */
  case class VecState(repId: Long, repTs: Long, vec: Array[Float])

  /** A flagged semantic near-duplicate: exact cosine vs the rep. */
  case class SemMatch(id: Long, ts: java.sql.Timestamp, dupOf: Long, cosine: Double)

  private def cosineOf(a: Array[Float], b: Array[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) -1.0 else dp / math.sqrt(na * nb)
  }

  /** Incremental SEMANTIC dedup on a vector stream — completes the
    * streaming triad (exact = [[exactKept]], fuzzy = [[fuzzyMatches]],
    * semantic = this). Each (id, ts, vec) row is sign-LSH-bucketed with
    * the SAME deterministic hyperplanes as the batch paths
    * ([[Ann.signBuckets]] / `IncrementalDedup.newDocsSemantic`), probes
    * every bucket within `probeRadius` bits, and is flagged iff exact
    * cosine vs a bucket's first-seen rep ≥ `threshold` — unlike the
    * MinHash stream, the full vector is in hand, so verification is
    * EXACT, not an estimate.
    *
    * Rep election is gated on `home == bucket`: only a bucket's own
    * first-seen member holds its state (one vector per DOC across all
    * state, not one per probe — at radius 2 and nbits 16 that is a 137×
    * state saving vs admit-anywhere). Pair recall is preserved because
    * probing is symmetric in arrival order: whichever of a near-dup pair
    * arrives second probes the earlier one's home bucket within the
    * radius, exactly the binomial-tail recall argument of
    * [[Ann.cosineDedupLsh]]. State expires `ttlMs` after last touch once
    * the watermark passes (the bounded-state contract of the triad). */
  def semanticMatches(
      vectors: DataFrame, // (id, ts, vec)
      threshold: Double,
      dim: Int,
      nbits: Int = 8,
      seed: Long = 42L,
      probeRadius: Int = 2,
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      ttlMs: Long = 10L * 60L * 1000L): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._

    val matcher =
      (bucket: Long, rows: Iterator[VecProbe], state: GroupState[VecState]) => {
        if (state.hasTimedOut) { state.remove(); Iterator.empty[SemMatch] }
        else {
          val docs = rows.toArray.sortBy(p => (p.ts.getTime, p.id))
          val (st, out) = matchSemantic(bucket, state.getOption.orNull, docs, threshold)
          if (st != null) {
            state.update(st)
            val maxTs = docs.foldLeft(0L)((m, p) => math.max(m, p.ts.getTime))
            state.setTimeoutTimestamp(maxTs + ttlMs)
          } // else: no home member seen yet — nothing to hold
          out.iterator
        }
      }

    semanticProbes(vectors, dim, nbits, seed, probeRadius, tsCol)
      .withWatermark("ts", watermark)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(matcher)
      .toDF()
  }

  /** Batch-mode twin of [[semanticMatches]] (testing/backfill): identical
    * bucketing, home-gated rep election in (ts, id) order, and exact
    * cosine matching — same match set as a stream over any event-time
    * monotonic slicing. */
  def semanticMatchesBatch(
      vectors: DataFrame,
      threshold: Double,
      dim: Int,
      nbits: Int = 8,
      seed: Long = 42L,
      probeRadius: Int = 2,
      tsCol: String = "ts"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    semanticProbes(vectors, dim, nbits, seed, probeRadius, tsCol)
      .groupByKey(_.bucket)
      .flatMapGroups { (bucket: Long, rows: Iterator[VecProbe]) =>
        val docs = rows.toArray.sortBy(p => (p.ts.getTime, p.id))
        matchSemantic(bucket, null, docs, threshold)._2.iterator
      }
      .toDF()
      .dropDuplicates("id", "dupOf")
  }

  /** The semantic family's probes, shared by both twins: one per bucket
    * within `probeRadius` bits of the doc's home sign-LSH bucket. */
  private def semanticProbes(vectors: DataFrame, dim: Int, nbits: Int, seed: Long,
      probeRadius: Int, tsCol: String): Dataset[VecProbe] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val planes = Ann.hyperplanes(seed, nbits, dim)
    vectors
      .select(col("id").cast("long").as("id"),
        col(tsCol).cast("timestamp").as("ts"), col("vec"))
      .as[(Long, java.sql.Timestamp, Array[Float])]
      .flatMap { case (id, ts, vec) =>
        if (vec == null || ts == null) Iterator.empty
        else {
          val home = Ann.bucketOf(vec, planes, dim)
          Ann.probeSet(home, nbits, probeRadius).iterator
            .map(b => VecProbe(b, home, id, ts, vec))
        }
      }
  }

  /** Home-gated first-seen-rep matching over one bucket's probes in (ts,
    * id) order, shared by both twins: `rep` is the bucket's rep so far
    * (null if none — the first HOME probe then becomes it); every later
    * probe of another doc matches it at exact cosine ≥ threshold. Returns
    * the rep after these probes and the matches. */
  private def matchSemantic(bucket: Long, rep: VecState, docs: Array[VecProbe],
      threshold: Double): (VecState, Seq[SemMatch]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SemMatch]
    var st = rep
    docs.foreach { p =>
      if (st == null) {
        if (p.home == bucket) st = VecState(p.id, p.ts.getTime, p.vec)
      } else if (st.repId != p.id) {
        val c = cosineOf(p.vec, st.vec)
        if (c >= threshold) out += SemMatch(p.id, p.ts, st.repId, c)
      }
    }
    (st, out.toSeq)
  }
}
