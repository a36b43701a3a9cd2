package dedup

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** MinHash signatures + LSH banding + salted bucket→edge generation.
  *
  * Pipeline shape (reference fuzzy_spark2.py:180-235,607-623, re-expressed
  * Spark-first): docs → per-doc shingle-hash set (typed mapPartitions; the
  * reference drops to an RDD of Python tuples here, defeating Catalyst —
  * ours stays a Dataset) → MinHash lanes → per-band bucket keys → grouped
  * star edges. Bucket grouping is the skew hot-spot (a boilerplate page can
  * put 10^6 docs in one bucket; the reference ships a plain `groupBy`,
  * fuzzy_spark2.py:620); north_rule mandates salted repartitioning, done
  * here as a two-phase aggregation whose edge *closure* equals the unsalted
  * one (property-tested).
  */
object Lsh {

  // ------------------------------------------------------- optimal (b, r)
  /** Port of `optimal_param` (reference fuzzy_spark2.py:238-299, itself
    * datasketch-derived): minimize 0.5·FP + 0.5·FN integrals over all
    * (b, r) with b·r ≤ numPerm. scipy.integrate.quad is replaced by
    * composite Simpson (1024 intervals); the docstring example
    * optimalParam(0.7, 256) == (25, 10) is pinned in the test-suite. */
  private val optimalParamCache =
    new java.util.concurrent.ConcurrentHashMap[(Double, Int, Double, Double), (Int, Int)]()

  def optimalParam(
      threshold: Double,
      numPerm: Int,
      fpWeight: Double = 0.5,
      fnWeight: Double = 0.5): (Int, Int) =
    optimalParamCache.computeIfAbsent((threshold, numPerm, fpWeight, fnWeight),
      _ => optimalParamImpl(threshold, numPerm, fpWeight, fnWeight))

  private def optimalParamImpl(
      threshold: Double,
      numPerm: Int,
      fpWeight: Double,
      fnWeight: Double): (Int, Int) = {
    def simpson(f: Double => Double, a: Double, b: Double, n: Int = 1024): Double = {
      if (b <= a) return 0.0
      val h = (b - a) / n
      var s = f(a) + f(b)
      var i = 1
      while (i < n) {
        s += f(a + i * h) * (if (i % 2 == 1) 4.0 else 2.0)
        i += 1
      }
      s * h / 3.0
    }
    var best = (1, 1)
    var minErr = Double.MaxValue
    var b = 1
    while (b <= numPerm) {
      val maxR = numPerm / b
      var r = 1
      while (r <= maxR) {
        val fp = simpson(s => 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble), 0.0, threshold)
        val fn = simpson(s => math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble), threshold, 1.0)
        val err = fp * fpWeight + fn * fnWeight
        if (err < minErr) { minErr = err; best = (b, r) }
        r += 1
      }
      b += 1
    }
    best
  }

  // ------------------------------------------------------------ MinHash
  /** MinHash lanes over a shingle-hash set. Unsigned-32 math on Long:
    * h*a + b < 2^64 for h,a,b < 2^32, so the wrap-free remainderUnsigned is
    * exact (reference lane math: fuzzy_spark2.py:231-235). Empty set =>
    * all lanes MaxHash (fuzzy_spark2.py:234). Returns lanes as Int bits. */
  def signature(shingles: Array[Int], a: Array[Long], b: Array[Long]): Array[Int] = {
    val np = a.length
    val lanes = new Array[Long](np)
    java.util.Arrays.fill(lanes, Hashes.MaxHash)
    var j = 0
    while (j < shingles.length) {
      val h = shingles(j).toLong & 0xFFFFFFFFL
      var i = 0
      while (i < np) {
        // division-free mod (== remainderUnsigned(x, ModPrime), tested):
        // this is the hot inner loop — shingles × 250 lanes per doc
        val v = Hashes.mod32m5(h * a(i) + b(i))
        if (v < lanes(i)) lanes(i) = v
        i += 1
      }
      j += 1
    }
    val out = new Array[Int](np)
    var i = 0
    while (i < np) { out(i) = lanes(i).toInt; i += 1 }
    out
  }

  /** docs(id, text) → per-doc sorted distinct shingle-hash sets.
    * Docs below minLength tokens produce no row (reference min-length
    * filter, fuzzy_spark2.py:150-178,572-574). */
  def shingleSets(docs: DataFrame, cfg: DedupConfig): Dataset[DocShingles] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = cfg.ngram
    val minLen = cfg.minLength
    val charW = cfg.charShingles
    docs
      .select(col(cfg.idCol).cast("long").as("id"), col(cfg.textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          if (text == null) None
          else {
            val sh = charW match {
              case Some(w) => TextNorm.charShingleHashes(text, w, minLen)
              case None    => TextNorm.shingleHashes(text, n, minLen)
            }
            if (sh.isEmpty) None else Some(DocShingles(id, sh))
          }
        }
      }
  }

  /** shingle sets → (id, band, bucket) LSH keys. The permutation arrays are
    * tiny (numPerm longs) and serialized with the closure; bucket =
    * xxh64(band-slice bytes, seed=band) replaces the reference's
    * raw-bytes / md5-string keys (fuzzy_spark2.py:235,
    * fuzzy single gpu/lsh.py:54) — 8 shuffled bytes instead of 4·r+. */
  def bandKeys(shingles: Dataset[DocShingles], cfg: DedupConfig): Dataset[BandKey] = {
    val spark = shingles.sparkSession
    import spark.implicits._
    val (b, r) = cfg.bandsRows
    val (pa, pb) = Hashes.permutations(b * r, cfg.seed)
    shingles.mapPartitions { it =>
      val scratch = new Array[Byte](r * 4) // reused across all band hashes
      it.flatMap { ds =>
        val sig = signature(ds.shingles, pa, pb)
        (0 until b).iterator.map { band =>
          BandKey(ds.id, band, Hashes.xxh64Ints(sig, band * r, (band + 1) * r, band.toLong, scratch))
        }
      }
    }
  }

  // ------------------------------------------- salted bucket → star edges
  /** Bucket-mates → star edges to the bucket minimum (reference
    * generate_edges, fuzzy_spark2.py:53-77), with two-phase salting so a
    * hot bucket of size M costs max(M/S, S) contiguous rows per task run
    * instead of a single M-row (or M²-pair) group:
    *
    *   phase 1: one shuffle colocating each (band, bucket, salt) group,
    *            sortWithinPartitions by (…, id), then a STREAMING pass: the
    *            first id of a run is the group min; every later member
    *            emits (member → min) with O(1) state. The same pass emits
    *            one (band, bucket, min) record per group;
    *   phase 2: the per-group minima reshuffle on (band, bucket) and the
    *            same streaming trick links each group min to the bucket
    *            min — bridging the salt groups. The member edges ride the
    *            same shuffle keyed by the edge, so phase 1's output is
    *            read once.
    *
    * Two narrow shuffles, zero joins, zero caches — the naive
    * groupBy+join formulation spends most of its wall time sort-merge-
    * joining the ~96% singleton buckets (measured: 190s → 25s at 500k
    * docs, 8 cores). The union's transitive closure equals the unsalted
    * star's (each salt group is a star whose hub links to the bucket hub),
    * so connected components are identical — property-tested in LshSpec.
    * Output edges are normalized (src > dst) and distinct across bands. */
  def starEdges(bands: Dataset[BandKey], saltBuckets: Int): DataFrame =
    groupEdges(bands, saltBuckets, allPairsCap = 0, chain = false)

  /** Candidate-edge topology per (band, bucket, salt) group:
    *
    *   - star (default): member → group-min; O(1) state, minimal edges.
    *   - chain=true: additionally member → predecessor — a failed-verify
    *     hub no longer disconnects a run of mutually-similar bucket-mates
    *     (round-1 ADVICE: unverified hubs in hot boilerplate buckets).
    *     2 edges/member, same streaming pass.
    *   - allPairsCap=c > 0: member → each of the first min(c, seen)
    *     members of its group — within a salt group the candidate set is
    *     then *complete* up to the cap, which is what gives the SimHash /
    *     suffix stages their provable-recall guarantee (every pair within
    *     radius shares a bucket; with salt=1 and cap ≥ bucket size every
    *     such pair is emitted and exactly verified). Groups larger than the
    *     cap degrade gracefully to star topology for the overflow members
    *     (still connected through the first cap members).
    */
  def groupEdges(
      bands: Dataset[BandKey],
      saltBuckets: Int,
      allPairsCap: Int,
      chain: Boolean): DataFrame = {
    val spark = bands.sparkSession
    import spark.implicits._
    val s = math.max(1, saltBuckets)
    val cap = allPairsCap
    val salted = bands.toDF()
      .withColumn("salt", pmod(xxhash64(col("id")), lit(s.toLong)))
      .select(col("band"), col("bucket"), col("salt"), col("id"))
      .as[(Int, Long, Long, Long)]
    // phase 1: (kind=0) edges member→(min|prev|first-cap); (kind=1) group-min records
    val p1 = salted
      .repartition(col("band"), col("bucket"), col("salt"))
      .sortWithinPartitions(col("band"), col("bucket"), col("salt"), col("id"))
      .mapPartitions { it =>
        var band = Int.MinValue; var bucket = 0L; var salt = 0L; var runMin = 0L
        var prev = 0L
        val buf = if (cap > 0) new scala.collection.mutable.ArrayBuffer[Long](cap) else null
        var first = true
        it.flatMap { case (b, bk, sl, id) =>
          if (first || b != band || bk != bucket || sl != salt) {
            first = false; band = b; bucket = bk; salt = sl; runMin = id; prev = id
            if (buf != null) { buf.clear(); buf += id }
            Iterator.single((1, b, bk, id, id)) // group-min record
          } else {
            val out =
              if (buf != null) {
                val targets = buf.iterator.map(t => (0, b, bk, id, t)).toArray
                if (buf.length < cap) buf += id
                targets.iterator
              } else if (chain && prev != runMin) {
                Iterator((0, b, bk, id, runMin), (0, b, bk, id, prev))
              } else if (chain) {
                // second member of the run: emit its star edge AND promote it
                // to a phase-2 representative — if the group min is itself a
                // dissimilar hub, this member is the group's only verified
                // bridge to the rest of the bucket (quantified in LshSpec:
                // without it a hub that wins a salt group orphans that
                // group's similar members)
                Iterator((0, b, bk, id, runMin), (1, b, bk, id, id))
              } else {
                Iterator.single((0, b, bk, id, runMin))
              }
            prev = id
            out
          }
        }
      }
      .toDF("kind", "band", "bucket", "a", "b")
    // phase 2: link salt-group representatives (the min; in chain mode also
    // the second member) to the bucket minimum; in chain mode additionally
    // to the PREVIOUS representative — a failed-verify bucket hub must not
    // disconnect salt groups any more than it may disconnect members within
    // one. Two prior designs fell short here, both quantified in LshSpec:
    // r2 chained only phase 1 (all bridges hub-anchored → hub hazard across
    // groups), and min-only reps let a hub that wins a salt group orphan
    // that group's similar members (no verified bridge out).
    //
    // p1 is consumed by this one exchange, so the phase-1 sort and
    // streaming pass run once: representative records (kind 1) are keyed
    // by (band, bucket) and sorted into runs, member edges (kind 0) are
    // keyed by the edge itself — a hot bucket's edges stay spread over
    // every task — and pass straight through (they sort first, on constant
    // keys).
    val chainB = chain
    val isRep = col("kind") === 1
    val edges = p1
      .repartition(when(isRep, xxhash64(col("band"), col("bucket")))
        .otherwise(xxhash64(col("a"), col("b"))))
      .sortWithinPartitions(col("kind"), when(isRep, col("band")),
        when(isRep, col("bucket")), when(isRep, col("a")))
      .as[(Int, Int, Long, Long, Long)]
      .mapPartitions { it =>
        var band = Int.MinValue; var bucket = 0L; var runMin = 0L
        var prev = 0L
        var first = true
        it.flatMap { case (kind, b, bk, a, t) =>
          if (kind == 0) Iterator.single((a, t)) // member edge a → t
          else if (first || b != band || bk != bucket) { // a: a group rep
            first = false; band = b; bucket = bk; runMin = a; prev = a
            Iterator.empty
          } else {
            val out =
              if (chainB && prev != runMin) Iterator((a, runMin), (a, prev))
              else Iterator.single((a, runMin))
            prev = a
            out
          }
        }
      }
      .toDF("src", "dst")
    edges
      .select(greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
      .distinct()
  }

  /** Unsalted variant (reference semantics, fuzzy_spark2.py:620-623) — used
    * as the salting-invariance test oracle only. */
  def starEdgesUnsalted(bands: Dataset[BandKey]): DataFrame = {
    val spark = bands.sparkSession
    import spark.implicits._
    val df = bands.toDF()
    val mins = df.groupBy($"band", $"bucket").agg(min($"id").as("gmin"))
    df.join(mins, Seq("band", "bucket"))
      .where($"id" =!= $"gmin")
      .select($"id".as("src"), $"gmin".as("dst"))
      .distinct()
  }
}
