package dedup

import org.apache.spark.sql.types._

/** Core row types. The engine's document contract is minimal: a stable
  * 64-bit `id` plus one `text` column; all other columns are opaque payload
  * carried through (reference exact_spark.py:130, fuzzy_spark2.py:569-577).
  */

/** Common-Crawl-style web page (BASELINE.json input_hint). `text` is the
  * dedup column and must be consumed verbatim (byte-identical per url —
  * SURVEY.md §1 "text extraction invariant"); `html`/`warc_ts`/`lang` are
  * pass-through payload. Doc id = xxhash64(url): stable across resumes and
  * partition layouts (unlike monotonically_increasing_id,
  * reference fuzzy_spark2.py:575). */
case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

object Page {
  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))
}

/** Per-doc sorted distinct shingle-hash set (checkpointed between the
  * signature and verification stages). */
case class DocShingles(id: Long, shingles: Array[Int])

/** LSH band key: one row per (doc, band). `bucket` is xxh64 of the band's
  * signature slice, seeded by the band index. */
case class BandKey(id: Long, band: Int, bucket: Long)

/** Candidate / verified duplicate edge, normalized src > dst. */
case class Edge(src: Long, dst: Long)

/** Final cluster assignment; component = min doc id of the cluster. */
case class Assignment(id: Long, component: Long)

/** Engine configuration. Defaults match the reference flagship
  * (fuzzy_spark2.py:353-361): threshold 0.7, ngram 5, min_length 5,
  * num_perm 250, seed 42. */
case class DedupConfig(
    idCol: String = "id",
    textCol: String = "text",
    ngram: Int = 5,
    minLength: Int = 5,
    numPerm: Int = 250,
    threshold: Double = 0.7,
    seed: Long = 42L,
    /** override (bands, rows); otherwise Lsh.optimalParam picks them. */
    bands: Option[(Int, Int)] = None,
    /** salt fan-out for hot LSH buckets (north_rule: salted repartitioning). */
    saltBuckets: Int = 16,
    /** exact-Jaccard verification of LSH candidates (north_rule; the
      * reference skips it — placeholder jaccard=1.0 at
      * fuzzy multi gpu/buckets_edges.py:54). */
    verify: Boolean = true,
    /** char-shingle mode (GPU-family parity); width in chars. */
    charShingles: Option[Int] = None,
    /** SimHash stage: hamming radius for the 64-bit fingerprint. */
    hammingK: Int = 3,
    /** suffix/winnowing stage: minimum exact shared-substring length. */
    suffixMinRun: Int = 200,
    /** candidate topology (Lsh.groupEdges): 0 = star edges; c > 0 = all
      * pairs among the first c members of each salt group (the
      * provable-recall mode for SimHash/suffix verification — with salt 1
      * and cap ≥ bucket size the candidate set is complete). */
    allPairsCap: Int = 0,
    /** add member→predecessor chain edges (phases 1 AND 2) so a
      * failed-verify hub cannot disconnect mutually-similar bucket-mates
      * (round-1 ADVICE). Quantified in LshSpec ("chainEdges recall
      * quantification"): on a planted hot bucket whose min-id hub fails
      * verification, star recall = 0.0 and chain recall = 1.0 at any
      * salt, at ≤2× candidate-verify cost. Default stays OFF for the
      * flagship: losing a pair requires a dissimilar hub in EVERY band
      * the pair shares, and a hub sharing all 25 band signatures at
      * jaccard < threshold is (J^r)^b-improbable — the measured flagship
      * recall without chain is 0.998 (BENCH/BASELINE.md). Turn on for
      * single-band/low-band configs where that argument is weak. */
    chainEdges: Boolean = false,
    /** banding memory envelope: process at most this many LSH bands per
      * shuffle pass (0 = all bands in one shuffle). Reference parity:
      * `buckets_per_shuffle`, fuzzy multi gpu/lsh_multi.py:108-146. The
      * bands are computed once (the `bands` stage) and each pass filters
      * its band range from them; in-flight shuffle data is still
      * n·bandsPerPass rows instead of n·numBands. */
    bandsPerPass: Int = 0) {

  def bandsRows: (Int, Int) = bands.getOrElse(Lsh.optimalParam(threshold, numPerm))

  /** Stable hash of every semantics-affecting knob — keys checkpoint reuse. */
  def configHash: String = {
    val s = productIterator.mkString("|")
    java.lang.Long.toHexString(Hashes.xxh64Str(s))
  }
}
