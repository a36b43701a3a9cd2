package perfbench

import dedup._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Traced driver: runs the `dedup.Pipeline` stage chain for one set of CLI
  * arguments by calling each layer's public function in pipeline order,
  * with one span per call. Each layer's output is persisted and counted
  * inside its span, then committed through `CheckpointStore.stage` in a
  * sibling `ckpt.<stage>` span, so compute and checkpoint write are timed
  * apart. Every span sets the Spark job group to its name, so the event
  * log attributes task counters to it. Counts come from a closing `probe`
  * span. Spans and counts are kept in memory and written as JSON when the
  * run ends.
  *
  *   spark-submit --class perfbench.Trace --jars <dedup jar> <trace jar> \
  *     <trace.json> <Pipeline CLI args...>
  */
object Trace {

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long = 0L)

  final class Tracer(spark: SparkSession) {
    val spans = mutable.ArrayBuffer[Span]()
    val counts = mutable.LinkedHashMap[String, Double]()
    private var open: List[Span] = Nil

    def span[T](name: String)(body: => T): T = {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
      spans += s
      open = s :: open
      spark.sparkContext.setJobGroup(name, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(p.name, p.name)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

    def json: String = {
      val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
      val ss = spans.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9}}"""
      }
      val cs = counts.map { case (k, v) => s""""$k":$v""" }
      s"""{"spans":[${ss.mkString(",")}],"counts":{${cs.mkString(",")}}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val out = argv(0)
    val args = Pipeline.parse(argv.drop(1))
    val cfg = args.cfg
    // the session Pipeline.main builds; spark-submit supplies the master
    val spark = SparkSession.builder()
      .appName("dedup-trace")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val tr = new Tracer(spark)
    val store = new CheckpointStore(spark, args.output, cfg.configHash, "trace")
    def rows(stage: String): Long = store.manifest(stage).get("rows").asInstanceOf[Long]
    def materialize(df: DataFrame): DataFrame = {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    def layer(name: String, stage: String)(df: => DataFrame): DataFrame = {
      val cached = tr.span(name)(materialize(df))
      val stored = tr.span(s"ckpt.$stage")(store.stage(stage)(cached))
      cached.unpersist(blocking = false)
      stored
    }

    tr.span("run") {
      val input = spark.read.schema(Page.schema).parquet(args.input)
      // source prep of `--existing --existing-fuzzy` (Pipeline.preparedPages):
      // exact drop first, then the fuzzy cross-corpus probe
      val incr = if (args.existing.isEmpty) None else {
        val existingPages = spark.read.schema(Page.schema).parquet(args.existing)
        val byteNew = tr.span("incr.exact")(materialize(
          IncrementalDedup.newDocs(existingPages, input, "url", "text")))
          .withColumn("__fid", xxhash64(col("url")))
        val existing = existingPages.withColumn("__fid", xxhash64(col("url")))
        val fCfg = cfg.copy(idCol = "__fid")
        val cross = tr.span("incr")(materialize(
          IncrementalDedup.crossPairs(existing, byteNew, fCfg, pruneFpp = args.pruneFpp)))
        Some((existing, byteNew, fCfg, cross))
      }
      val pages = incr match {
        case None => input
        case Some((_, byteNew, _, cross)) =>
          val dupIds = cross.select(col("bid")).distinct()
          byteNew.join(dupIds, byteNew("__fid") === dupIds("bid"), "left_anti").drop("__fid")
      }

      val docs = layer("ids", "ids") {
        pages.select(xxhash64(col("url")).as("id"), col("url"), col("text"))
      }
      val collisions = tr.span("ids.audit")(Ids.idCollisions(docs, "id", "text"))
      require(collisions == 0L, s"$collisions doc id(s) carry multiple distinct contents")
      val shingles = layer("shingles", "shingles")(Lsh.shingleSets(docs, cfg).toDF())
      val shingleDs = shingles.as[DocShingles]
      val bands = layer("bands", "bands")(Lsh.bandKeys(shingleDs, cfg).toDF()).as[BandKey]
      val candidates = layer("candidates", "candidates") {
        Lsh.groupEdges(bands, cfg.saltBuckets, cfg.allPairsCap, cfg.chainEdges)
      }
      val verified = layer("verify", "verified") {
        VerifyPairs.verifyJaccard(candidates, shingleDs, cfg.threshold).select(col("src"), col("dst"))
      }
      val simEdges = if (!args.simhash) None else Some(layer("simhash", "simhash_edges") {
        SimHash.verifiedEdges(shingleDs, cfg).select(col("src"), col("dst"))
      })
      val saEdges = if (!args.suffix) None else Some(layer("suffix", "suffix_edges") {
        SuffixDedup.verifiedEdges(docs, cfg).select(col("src"), col("dst"))
      })
      val edges = (Seq(verified) ++ simEdges ++ saEdges).reduce(_ unionByName _)
      val components = layer("cc", "components")(ConnectedComponents.runAdaptive(edges))
      // the distributed large-star/small-star loop on the same edges: the
      // path runAdaptive takes above its 5M-edge local limit
      tr.span("cc_loop")(ConnectedComponents.run(edges).count())
      val assignments = layer("assign", "assignments") {
        ConnectedComponents.assignAll(docs.select(col("id")), components)
      }
      tr.span("kept") {
        store.stage("kept", chunkRows = Some(args.chunkRows)) {
          val removal = assignments.where(col("id") =!= col("component")).select(col("id"))
          pages.withColumn("id", xxhash64(col("url"))).join(removal, Seq("id"), "left_anti")
        }
      }

      tr.span("probe") {
        val c = tr.counts
        c("docs") = rows("ids").toDouble
        c("shingles.rows") = rows("shingles").toDouble
        c("bands.rows") = rows("bands").toDouble
        c("candidates.edges") = rows("candidates").toDouble
        c("candidates.max_salted_group") = bands.toDF()
          .groupBy(col("band"), col("bucket"),
            pmod(xxhash64(col("id")), lit(math.max(1, cfg.saltBuckets).toLong)))
          .count().agg(max(col("count"))).head().getLong(0).toDouble
        c("verify.edges") = rows("verified").toDouble
        if (args.simhash) c("simhash.edges") = rows("simhash_edges").toDouble
        if (args.suffix) c("suffix.edges") = rows("suffix_edges").toDouble
        c("cc.edges_in") = Seq("verified", "simhash_edges", "suffix_edges")
          .filter(s => store.manifest(s).isDefined).map(rows).sum.toDouble
        val sizes = components.groupBy(col("component")).count()
          .agg(count(lit(1)), max(col("count"))).head()
        c("cc.components") = sizes.getLong(0).toDouble
        c("cc.largest_component") = if (sizes.isNullAt(1)) 0.0 else sizes.getLong(1).toDouble
        incr.foreach { case (existing, byteNew, fCfg, cross) =>
          val idx = IncrementalDedup.buildFuzzyIndex(existing, fCfg)
          val bBands = Lsh.bandKeys(Lsh.shingleSets(byteNew, fCfg), fCfg).toDF()
          val key = xxhash64(col("band"), col("bucket"))
          val pruned = BloomPrune.prune(idx.bands, key, bBands, key, fpp = args.pruneFpp)
          c("incr.index_rows") = idx.bands.count().toDouble
          c("incr.pruned_rows") = pruned.count().toDouble
          c("incr.candidates") = bBands.select(col("band"), col("bucket"), col("id").as("bid"))
            .join(pruned.select(col("band"), col("bucket"), col("id").as("eid")), Seq("band", "bucket"))
            .select(col("bid"), col("eid")).distinct().count().toDouble
          c("incr.cross_pairs") = cross.count().toDouble
        }
      }
    }
    spark.stop()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.write(tr.json) finally w.close()
  }
}
