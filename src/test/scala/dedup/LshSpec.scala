package dedup

import org.scalatest.funsuite.AnyFunSuite

class LshSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("optimalParam docstring vector: (0.7, 256) == (25, 10)") {
    assert(Lsh.optimalParam(0.7, 256) === (25, 10))
  }

  test("signature: empty shingle set -> all lanes MAX_HASH") {
    val (a, b) = Hashes.permutations(16, 42L)
    val sig = Lsh.signature(Array.emptyIntArray, a, b)
    assert(sig.forall(l => (l.toLong & 0xFFFFFFFFL) === Hashes.MaxHash))
  }

  test("signature: lane = min over shingles of (h*a+b) mod p") {
    val (a, b) = Hashes.permutations(8, 1L)
    val shingles = Array(3, -5, 1234567)
    val sig = Lsh.signature(shingles, a, b)
    for (i <- 0 until 8) {
      val expect = shingles.map { s =>
        java.lang.Long.remainderUnsigned((s.toLong & 0xFFFFFFFFL) * a(i) + b(i), Hashes.ModPrime)
      }.min
      assert((sig(i).toLong & 0xFFFFFFFFL) === expect)
    }
  }

  test("MinHash lane agreement estimates true Jaccard (statistical)") {
    val numPerm = 256
    val (a, b) = Hashes.permutations(numPerm, 42L)
    // two sets with known jaccard: |A|=800, |B|=800, |A∩B|=600 -> J=0.6
    val inter = (0 until 600).map(i => Hashes.xxh32Str(s"common-$i")).toArray
    val onlyA = (0 until 200).map(i => Hashes.xxh32Str(s"a-$i")).toArray
    val onlyB = (0 until 200).map(i => Hashes.xxh32Str(s"b-$i")).toArray
    val setA = (inter ++ onlyA).distinct.sorted
    val setB = (inter ++ onlyB).distinct.sorted
    val (iC, uC) = VerifyPairs.jaccardCounts(setA, setB)
    val trueJ = iC.toDouble / uC
    val sigA = Lsh.signature(setA, a, b)
    val sigB = Lsh.signature(setB, a, b)
    val agree = sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / numPerm
    // stderr = sqrt(J(1-J)/n) ≈ 0.031; allow 4 sigma
    assert(math.abs(agree - trueJ) < 0.13, s"estimate $agree vs true $trueJ")
  }

  test("identical docs share every band; banding is deterministic") {
    import spark.implicits._
    val cfg = DedupConfig(ngram = 3, minLength = 3, numPerm = 50, bands = Some((10, 5)))
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now")).toDF("id", "text")
    val bands = Lsh.bandKeys(Lsh.shingleSets(docs, cfg), cfg).collect()
    val byDoc = bands.groupBy(_.id).view.mapValues(_.map(b => (b.band, b.bucket)).toSet).toMap
    assert(byDoc(1L) === byDoc(2L))
    assert(byDoc(1L) !== byDoc(3L))
    assert(byDoc(1L).size === 10)
  }

  test("bandsPerPass batched banding: identical edge SET to one-shot") {
    import spark.implicits._
    val base = DedupConfig(ngram = 3, minLength = 3, numPerm = 50,
      bands = Some((10, 5)), saltBuckets = 4)
    val docs = Synth.corpus(spark, 400, 7L).map(d => (Hashes.xxh64Str(d.url), d.text))
      .toDF("id", "text")
    // batched candidate edges == one-shot candidate edges, exactly
    def candidates(cfg: DedupConfig) = FuzzyDedup.run(docs, cfg).candidates.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = candidates(base)
    val batched = candidates(base.copy(bandsPerPass = 3))
    assert(batched === oneShot)
    assert(oneShot.nonEmpty, "corpus must produce candidates")
  }

  test("chainEdges recall quantification: hot bucket whose min-id hub fails verification") {
    import spark.implicits._
    // planted hazard (round-1 ADVICE / VERDICT r2 #6): 20 mutually-similar
    // members (pairwise jaccard 90/110 ≈ 0.82) share one LSH bucket with a
    // DISSIMILAR min-id hub (jaccard 0 vs everyone). Star edges all point
    // at the hub and all fail verification.
    val members = (2L to 21L).toSeq
    val sh = (Seq(DocShingles(1L, (5000 until 5100).toArray)) ++
      members.map(i => DocShingles(i,
        ((0 until 90) ++ (1000 + i.toInt * 10 until 1010 + i.toInt * 10)).toArray.sorted)))
      .toDS()
    val bands = (1L +: members).map(id => BandKey(id, 0, 42L)).toDS()
    val truePairs = members.size * (members.size - 1) / 2
    def recall(salt: Int, chain: Boolean): Double = {
      val cand = Lsh.groupEdges(bands, salt, 0, chain)
      val verified = VerifyPairs.verifyJaccard(cand, sh, 0.7).select("src", "dst")
      val assign = ConnectedComponents.runAdaptive(verified)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val found = (for {
        i <- members; j <- members if i < j
        ci <- assign.get(i); cj <- assign.get(j) if ci == cj
      } yield 1).size
      found.toDouble / truePairs
    }
    // star topology: every candidate is (member, hub) -> all fail -> recall 0
    assert(recall(salt = 1, chain = false) === 0.0)
    // chain, salt 1: member→predecessor edges survive -> full recall
    assert(recall(salt = 1, chain = true) === 1.0)
    // chain, salt 4: in-group chains + chained bridges over TWO reps per
    // group (min + second member). Both prior designs fail this planted
    // case: r2 chained only phase 1 (bridges all hub-anchored), and
    // min-only reps orphan the hub's own salt group (hub wins the group
    // min, so the group's similar members have no verified bridge out —
    // observed 16/4 component split, recall 0.663) -> full recall now
    assert(recall(salt = 4, chain = true) === 1.0)
    // chain costs ≤ 2× star per member plus ≤2 bridge edges per salt-group
    // representative (2 reps × salt groups) — the price of the robustness
    val nStar = Lsh.groupEdges(bands, 4, 0, chain = false).count()
    val nChain = Lsh.groupEdges(bands, 4, 0, chain = true).count()
    assert(nChain <= 2 * nStar + 4 * 4)
  }

  test("star edges golden vector (reference fuzzy_spark2.py:68-72)") {
    import spark.implicits._
    // one bucket with members {1,2,3} -> edges (2,1),(3,1)
    val bands = Seq(BandKey(1L, 0, 99L), BandKey(2L, 0, 99L), BandKey(3L, 0, 99L)).toDS()
    val edges = Lsh.starEdgesUnsalted(bands).as[(Long, Long)].collect().toSet
    assert(edges === Set((2L, 1L), (3L, 1L)))
  }

  test("salted and unsalted edges have identical transitive closure (property)") {
    import spark.implicits._
    // random band keys incl. a hot bucket of 60 members
    val rnd = new scala.util.Random(7)
    val keys = (1 to 60).map(i => BandKey(i.toLong, 0, 1L)) ++ // hot bucket
      (1 to 120).map(_ => BandKey(rnd.nextInt(200).toLong + 100L, rnd.nextInt(3), rnd.nextInt(20).toLong))
    val ds = keys.toDS()
    def comps(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      ConnectedComponents.run(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = comps(Lsh.starEdges(ds, 8))
    val unsalted = comps(Lsh.starEdgesUnsalted(ds))
    assert(salted === unsalted)
  }

  test("groupEdges all-pairs mode: complete pair set within a salt group (salt=1)") {
    import spark.implicits._
    val bands = (1 to 10).map(i => BandKey(i.toLong, 0, 5L)).toDS()
    val edges = Lsh.groupEdges(bands, 1, allPairsCap = 100, chain = false)
      .as[(Long, Long)].collect().toSet
    val expect = (for (i <- 1 to 10; j <- (i + 1) to 10) yield (j.toLong, i.toLong)).toSet
    assert(edges === expect)
  }

  test("groupEdges chain mode: member→min plus member→predecessor") {
    import spark.implicits._
    val bands = Seq(BandKey(1L, 0, 9L), BandKey(2L, 0, 9L), BandKey(3L, 0, 9L)).toDS()
    val edges = Lsh.groupEdges(bands, 1, allPairsCap = 0, chain = true)
      .as[(Long, Long)].collect().toSet
    assert(edges === Set((2L, 1L), (3L, 1L), (3L, 2L)))
  }

  test("groupEdges all-pairs cap: overflow members link to the first cap members; " +
    "closure stays one component") {
    import spark.implicits._
    val bands = (1 to 20).map(i => BandKey(i.toLong, 0, 3L)).toDS()
    val edges = Lsh.groupEdges(bands, 1, allPairsCap = 3, chain = false)
    // first 3 members pair among themselves (3 pairs); members 4..20 emit
    // exactly 3 edges each
    assert(edges.count() === 3L + 17L * 3L)
    val comps = ConnectedComponents.runAdaptive(edges)
      .collect().map(_.getLong(1)).distinct
    assert(comps.length === 1)
  }

  test("salted star edges stay linear in bucket size") {
    import spark.implicits._
    val hot = (1 to 500).map(i => BandKey(i.toLong, 0, 7L)).toDS()
    val n = Lsh.starEdges(hot, 16).count()
    // <= members-1 + saltGroups edges (star per salt group + bridge)
    assert(n <= 500L + 16L)
    assert(n >= 499L)
  }
}
