package dedup

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class CheckpointStoreSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("stage commits manifest with per-partition metrics; reuse skips compute") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt").toString
    val store = new CheckpointStore(spark, root, "cfgA")
    var computed = 0
    val df1 = store.stage("s1") { computed += 1; (1 to 100).toDF("x").repartition(4) }
    assert(computed === 1)
    assert(df1.count() === 100)
    val m = store.manifest("s1").get
    assert(m("rows") === 100L)
    assert(m("config_hash") === "cfgA")
    assert(m("partitions").asInstanceOf[Int] >= 1)
    // same config: reuse, no recompute
    val store2 = new CheckpointStore(spark, root, "cfgA")
    val df2 = store2.stage("s1") { computed += 1; (1 to 5).toDF("x") }
    assert(computed === 1)
    assert(df2.count() === 100)
    // changed config: recompute
    val store3 = new CheckpointStore(spark, root, "cfgB")
    val df3 = store3.stage("s1") { computed += 1; (1 to 5).toDF("x") }
    assert(computed === 2)
    assert(df3.count() === 5)
  }

  test("TableFormat seam: every byte-touching op routes through the injected format") {
    // SURVEY §7's "swap-in of real Iceberg is a TableFormat implementation
    // away" as a compile-time fact: construct the store through the seam
    // with a delegating probe and prove commit, chunked sink, resume,
    // metrics extraction and time travel all pass through it — no hidden
    // direct parquet path remains in the store.
    import spark.implicits._
    var writes = 0; var chunkedWrites = 0; var reads = 0; var stats = 0
    val probe = new TableFormat {
      override def write(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
        writes += 1; ParquetFormat.write(df, path)
      }
      override def writeChunked(df: org.apache.spark.sql.DataFrame,
          path: String, parts: Int): Unit = {
        chunkedWrites += 1; ParquetFormat.writeChunked(df, path, parts)
      }
      override def read(s: org.apache.spark.sql.SparkSession,
          path: String): org.apache.spark.sql.DataFrame = {
        reads += 1; ParquetFormat.read(s, path)
      }
      override def fileRowCounts(files: Seq[org.apache.hadoop.fs.FileStatus],
          conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
        stats += 1; ParquetFormat.fileRowCounts(files, conf)
      }
    }
    val root = Files.createTempDirectory("fmt").toString
    val store = new CheckpointStore(spark, root, "cfgF", format = probe)
    assert(store.stage("s1") { (1 to 10).toDF("x") }.count() === 10)
    assert(writes === 1 && reads >= 1 && stats >= 1, "plain commit not through seam")
    store.stage("s2", chunkRows = Some(3),
      chunkMaxPartitions = 4) { (1 to 10).toDF("x") }
    assert(chunkedWrites === 1, "chunked sink not through seam")
    // resume path: a fresh store reuses s1 without compute, via format.read
    val readsBefore = reads
    val store2 = new CheckpointStore(spark, root, "cfgF", format = probe)
    var computed = 0
    assert(store2.stage("s1") { computed += 1; (1 to 3).toDF("x") }.count() === 10)
    assert(computed === 0 && reads > readsBefore, "resume not through seam")
    // time travel reads route through the seam too
    val snapId = store.snapshots("s1").collect()
      .find(_.getBoolean(7)).get.getString(0) // current snapshot id
    val readsBefore2 = reads
    assert(store2.readSnapshot("s1", snapId).get.count() === 10)
    assert(reads > readsBefore2, "time travel not through seam")
  }

  test("--export-format jsonl.gz: interchange copy beside the parquet checkpoints") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("exp").toString
    val args = Pipeline.parse(Array(
      "--synth", "300", "--output", root, "--export-format", "jsonl.gz",
      "--num-perm", "64", "--salt", "4"))
    val (kept, _) = Pipeline.run(spark, args)
    val back = spark.read.json(s"$root/export")
    assert(back.count() === kept.count())
    assert(back.columns.toSet === kept.columns.toSet)
    // gzip part files actually written
    val files = new java.io.File(s"$root/export").listFiles()
      .map(_.getName).filter(_.endsWith(".json.gz"))
    assert(files.nonEmpty, "expected .json.gz parts")
    // unknown format fails at parse time, naming the options
    val e = intercept[IllegalArgumentException] {
      Pipeline.parse(Array("--synth", "1", "--output", root,
        "--export-format", "avro"))
    }
    assert(e.getMessage.contains("jsonl|jsonl.gz|orc|csv"))
  }

  test("pipeline resume: delete downstream stage -> only it recomputes; result identical") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("pipe").toString
    val args = Pipeline.Args(
      synth = 400L, output = root, simhash = false, suffix = false,
      cfg = DedupConfig(numPerm = 64, saltBuckets = 4))
    val (kept1, assign1) = Pipeline.run(spark, args)
    // payload carry-through (input_hint): every page column survives dedup
    Page.schema.fieldNames.foreach { c =>
      assert(kept1.columns.contains(c), s"kept output dropped payload column $c")
    }
    val a1 = assign1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // wipe the components + downstream manifests; upstream stays committed
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("components", "assignments", "kept").foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$s"), true)
    }
    // track whether shingles stage recomputes by manifest snapshot identity
    // (Pipeline folds the synth source fingerprint into the checkpoint key)
    val store = new CheckpointStore(spark, root, args.cfg.configHash,
      s"synth${args.synth}s${args.cfg.seed}")
    assert(store.isCommitted("shingles"), "upstream must remain committed")

    val (_, assign2) = Pipeline.run(spark, args)
    val a2 = assign2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a2 === a1, "resumed run must produce byte-identical assignments")
  }

  test("input fingerprint keys reuse: same config + different input recomputes") {
    import spark.implicits._
    val root = Files.createTempDirectory("fp").toString
    var computed = 0
    val a = new CheckpointStore(spark, root, "cfg", "inputA")
    a.stage("s") { computed += 1; (1 to 10).toDF("x") }
    // same config, same input: reuse
    val a2 = new CheckpointStore(spark, root, "cfg", "inputA")
    a2.stage("s") { computed += 1; (1 to 10).toDF("x") }
    assert(computed === 1)
    // same config, different input: recompute (round-1 ADVICE)
    val b = new CheckpointStore(spark, root, "cfg", "inputB")
    b.stage("s") { computed += 1; (1 to 10).toDF("x") }
    assert(computed === 2)
  }

  test("truncated data dir is not trusted: deleting a data file forces recompute") {
    import spark.implicits._
    val root = Files.createTempDirectory("trunc").toString
    val store = new CheckpointStore(spark, root, "cfg")
    var computed = 0
    store.stage("s") { computed += 1; (1 to 100).toDF("x").repartition(4) }
    assert(computed === 1)
    // delete one committed part file, keep the manifest
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/s/data"))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.length >= 2)
    fs.delete(files.head.getPath, false)
    val store2 = new CheckpointStore(spark, root, "cfg")
    assert(!store2.isCommitted("s"), "manifest file count must invalidate truncated data")
    store2.stage("s") { computed += 1; (1 to 100).toDF("x") }
    assert(computed === 2)
  }

  test("chunked sink: reference partitioned_save layout (__pid__ dirs, clamped partitions)") {
    import spark.implicits._
    val root = Files.createTempDirectory("chunk").toString
    val store = new CheckpointStore(spark, root, "cfg")
    // 100 rows, chunk 10 -> ceil = 10 partitions, clamped above by max=8
    val out = store.stage("s", chunkRows = Some(10L),
      chunkMaxPartitions = 8) { (1 to 100).toDF("x") }
    assert(out.count() === 100)
    assert(!out.columns.contains("__pid__"), "partition tag must not leak to readers")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/s/data"))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("__pid__="))
    assert(dirs.length === 8, s"expected 8 __pid__ dirs, got ${dirs.toSeq}")
    // per-partition metrics rows present and sum to total
    val m = store.manifest("s").get
    assert(m("rows") === 100L)
    assert(m("partitions").asInstanceOf[Int] === 8)
    // unclamped case: 100 rows, chunk 20 -> exactly ceil = 5 partitions
    val store3 = new CheckpointStore(spark, root, "cfg3")
    store3.stage("s3", chunkRows = Some(20L),
      chunkMaxPartitions = 64) { (1 to 100).toDF("x") }
    val dirs3 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/s3/data"))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("__pid__="))
    assert(dirs3.length === 5)
    // 5 rows -> clamped up to min partitions
    val store2 = new CheckpointStore(spark, root, "cfg2")
    store2.stage("s2", chunkRows = Some(10L),
      chunkMaxPartitions = 8) { (1 to 5).toDF("x") }
    val dirs2 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/s2/data"))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("__pid__="))
    // 5 rows round-robin into 4 partitions: empty partitions write no dir,
    // so the dir count is bounded by the clamp, not equal to it
    assert(dirs2.length <= 4 && dirs2.nonEmpty)
  }

  test("chunked sink: default floor is the session's cores, not 256 partitions") {
    import spark.implicits._
    val root = Files.createTempDirectory("chunkfloor").toString
    val store = new CheckpointStore(spark, root, "cfg")
    // 100 rows, chunk 1000 -> ceil = 1, so the floor alone sizes the write
    assert(store.stage("s", chunkRows = Some(1000L)) { (1 to 100).toDF("x") }
      .count() === 100)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/s/data"))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("__pid__="))
    val cores = spark.sparkContext.defaultParallelism
    assert(dirs.nonEmpty && dirs.length <= cores,
      s"expected at most $cores __pid__ dirs, got ${dirs.length}")
  }

  test("legacy manifest without data_files is not trusted: forces recompute (ADVICE r2)") {
    import spark.implicits._
    val root = Files.createTempDirectory("legacy").toString
    val store = new CheckpointStore(spark, root, "cfg")
    var computed = 0
    store.stage("s") { computed += 1; (1 to 100).toDF("x") }
    assert(computed === 1)
    // rewrite the manifest as the round-1 format: strip the per-file size
    // map (the field whose absence used to short-circuit validation)
    val mPath = java.nio.file.Paths.get(s"$root/s/_MANIFEST.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readAllBytes(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.has("data_files"))
    node.remove("data_files")
    java.nio.file.Files.write(mPath, mapper.writeValueAsBytes(node))
    val store2 = new CheckpointStore(spark, root, "cfg")
    assert(!store2.isCommitted("s"),
      "a manifest lacking data_files cannot be validated and must not resume")
    store2.stage("s") { computed += 1; (1 to 100).toDF("x") }
    assert(computed === 2)
  }

  test("snapshot history: recompute archives, time travel reads, expiry removes") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toString
    val s1 = new CheckpointStore(spark, root, "cfgA")
    s1.stage("s") { (1 to 100).toDF("x") }
    val id1 = s1.snapshots("s").collect().head.getString(0)
    // config change -> recompute; the old snapshot must survive as history
    val s2 = new CheckpointStore(spark, root, "cfgB")
    s2.stage("s") { (1 to 5).toDF("x") }
    val hist2 = s2.snapshots("s").collect()
    assert(hist2.length === 2)
    assert(hist2.map(_.getLong(2)).toSeq === Seq(1L, 2L), "sequence numbers ascend")
    val (old2, cur2) = (hist2(0), hist2(1))
    assert(old2.getString(0) === id1 && !old2.getBoolean(7))
    assert(cur2.getBoolean(7) && cur2.getString(1) === id1,
      "current snapshot must carry parent_snapshot_id")
    assert(old2.getLong(5) === 100L && cur2.getLong(5) === 5L)
    // time travel: both snapshots readable, unknown id is None
    assert(s2.readSnapshot("s", id1).get.count() === 100L)
    assert(s2.readSnapshot("s", cur2.getString(0)).get.count() === 5L)
    assert(s2.readSnapshot("s", "deadbeef").isEmpty)
    // third commit, then expire to keepLast=1 archived: only id1 goes
    val s3 = new CheckpointStore(spark, root, "cfgC")
    s3.stage("s") { (1 to 7).toDF("x") }
    assert(s3.snapshots("s").count() === 3L)
    val expired = s3.expireSnapshots("s", keepLast = 1)
    assert(expired === Seq(id1))
    assert(s3.readSnapshot("s", id1).isEmpty, "expired snapshot unreadable")
    assert(s3.readSnapshot("s", cur2.getString(0)).get.count() === 5L,
      "kept archived snapshot still time-travels")
    assert(s3.snapshots("s").count() === 2L)
    // resume with an unchanged config never archives or recomputes
    var computed = 0
    val s4 = new CheckpointStore(spark, root, "cfgC")
    s4.stage("s") { computed += 1; (1 to 9).toDF("x") }
    assert(computed === 0 && s4.snapshots("s").count() === 2L)
    // a CORRUPTED outgoing snapshot is deleted, never archived as history
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/s/data"))
      .filter(_.getPath.getName.endsWith(".parquet")).head
    fs.delete(part.getPath, false)
    val corruptId = s3.snapshots("s").collect().filter(_.getBoolean(7)).head.getString(0)
    val s5 = new CheckpointStore(spark, root, "cfgD")
    s5.stage("s") { (1 to 3).toDF("x") }
    // history = archived cfgB + current cfgD; the corrupted cfgC snapshot
    // was deleted, not archived
    val hist5 = s5.snapshots("s").collect()
    assert(hist5.length === 2, "corrupt snapshot must not enter history")
    assert(!hist5.map(_.getString(0)).contains(corruptId))
  }

  test("incremental scan: addedSince/removedSince diff snapshots by key") {
    import spark.implicits._
    val root = Files.createTempDirectory("incr").toString
    val s1 = new CheckpointStore(spark, root, "v1")
    s1.stage("docs") { (1 to 100).map(i => (i.toLong, s"text$i")).toDF("id", "text") }
    val id1 = s1.snapshots("docs").collect().head.getString(0)
    // recrawl: 1-49 dropped, 50-100 kept, 101-120 new
    val s2 = new CheckpointStore(spark, root, "v2")
    s2.stage("docs") { (50 to 120).map(i => (i.toLong, s"text$i")).toDF("id", "text") }
    val added = s2.addedSince("docs", id1, Seq("id")).get
    assert(added.select("id").as[Long].collect().sorted.toSeq === (101L to 120L))
    assert(added.columns.toSeq === Seq("id", "text"), "delta keeps full rows")
    val removed = s2.removedSince("docs", id1, Seq("id")).get
    assert(removed.select("id").as[Long].collect().sorted.toSeq === (1L to 49L))
    // all-column comparison (no keyCols): a changed row counts as added
    val s3 = new CheckpointStore(spark, root, "v3")
    s3.stage("docs") { (50 to 120).map(i =>
      (i.toLong, if (i == 60) "EDITED" else s"text$i")).toDF("id", "text") }
    val id2 = s3.snapshots("docs").collect()
      .filter(r => !r.getBoolean(7) && r.getString(4).startsWith("v2")).head.getString(0)
    assert(s3.addedSince("docs", id2).get.select("id").as[Long].collect().toSeq === Seq(60L))
    // unknown snapshot -> None, never a wrong empty diff
    assert(s2.addedSince("docs", "nope", Seq("id")).isEmpty)
    // the plan is a single left-anti join, no cartesian
    val plan = added.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti") && !plan.toLowerCase.contains("cartesian"))
  }

  test("compact: rewrites small files as a new snapshot; resume and history intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("cmp").toString
    val s1 = new CheckpointStore(spark, root, "cfg")
    s1.stage("s") { (1 to 1000).toDF("x").repartition(16) }
    val preId = s1.snapshots("s").collect().head.getString(0)
    val preFiles = s1.manifest("s").get("files").asInstanceOf[Long]
    assert(preFiles === 16L)
    val newFiles = s1.compact("s", targetRows = 1000L)
    assert(newFiles === 1, "1000 rows at targetRows=1000 -> one file")
    // same rows, stage still committed (no recompute on resume)
    assert(s1.manifest("s").get("rows") === 1000L)
    var computed = 0
    val s2 = new CheckpointStore(spark, root, "cfg")
    val back = s2.stage("s") { computed += 1; (1 to 5).toDF("x") }
    assert(computed === 0 && back.count() === 1000L)
    // compaction is a commit: history has the pre-compact snapshot, chained
    val hist = s2.snapshots("s").collect()
    assert(hist.length === 2 && hist.head.getString(0) === preId)
    assert(hist(1).getString(1) === preId, "compacted snapshot chains to parent")
    assert(s2.readSnapshot("s", preId).get.count() === 1000L, "time travel pre-compact")
  }

  test("removeOrphans: unreferenced files deleted, committed stage repaired") {
    import spark.implicits._
    val root = Files.createTempDirectory("orph").toString
    val store = new CheckpointStore(spark, root, "cfg")
    store.stage("s") { (1 to 50).toDF("x") }
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // debris of an "interrupted write": a stray parquet copy in the data dir
    val dataDir = new org.apache.hadoop.fs.Path(s"$root/s/data")
    val real = fs.listStatus(dataDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val stray = new org.apache.hadoop.fs.Path(dataDir, "part-junk-orphan.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, real, fs, stray, false,
      spark.sparkContext.hadoopConfiguration)
    // plus a leftover compaction temp dir and a manifest-less snapshot dir
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/s/_compact_tmp"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/s/_snapshots/bogus"))
    assert(!store.isCommitted("s"), "stray file poisons the byte validation")
    val gone = store.removeOrphans("s")
    assert(gone.exists(_.endsWith("part-junk-orphan.parquet")))
    assert(gone.exists(_.endsWith("_compact_tmp")))
    assert(gone.exists(_.endsWith("bogus")))
    assert(store.isCommitted("s"), "cleanup restores resumability")
    assert(!fs.exists(stray))
    // manifest-listed files are never touched
    assert(fs.exists(real))
    assert(store.removeOrphans("s").isEmpty, "second pass finds nothing")
  }

  test("lineage is recorded in stage order") {
    val root = Files.createTempDirectory("lin").toString
    import spark.implicits._
    val store = new CheckpointStore(spark, root, "h")
    store.stage("a") { Seq(1).toDF("x") }
    store.stage("b") { Seq(2).toDF("x") }
    val m = store.manifest("b").get
    assert(m("lineage") === List("a"))
  }

  test("stage: its Spark jobs carry the stage name as description; the caller's " +
      "job group survives and its description is restored") {
    import spark.implicits._
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("ckpt_desc").toString
    val store = new CheckpointStore(spark, root, "cfg")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("caller", "caller's group")
    sc.setJobDescription("outer")
    try {
      store.stage("x") { (1 to 50).toDF("v").repartition(3) }
      assert(sc.getLocalProperty("spark.job.description") === "outer")
      val inStage = { org.apache.spark.sql.dedupbridge.drainListenerBus(sc, 10000L); jobs.size }
      store.stage("chunked", chunkRows = Some(10L)) { (1 to 50).toDF("v") }
      val afterStages = { org.apache.spark.sql.dedupbridge.drainListenerBus(sc, 10000L); jobs.size }
      Seq(1, 2).toDF("v").count() // a caller job after the stages
      org.apache.spark.sql.dedupbridge.drainListenerBus(sc, 10000L)
      import scala.jdk.CollectionConverters._
      val all = jobs.asScala.toSeq
      assert(inStage > 0, "the stage started no job")
      assert(all.take(inStage).forall(_ == ("x", "caller")), all.take(inStage))
      assert(all.slice(inStage, afterStages).map(_._2).forall(_ == "caller"), all)
      assert(all.slice(inStage, afterStages).map(_._1).toSet.subsetOf(Set("x", "chunked")) &&
        all.slice(inStage, afterStages).exists(_._1 == "chunked"), all)
      assert(all.drop(afterStages).nonEmpty &&
        all.drop(afterStages).forall(_ == ("outer", "caller")), all.drop(afterStages))
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setJobDescription(null)
    }
    // with no description set before, none is left behind
    store.stage("y") { Seq(1).toDF("v") }
    assert(sc.getLocalProperty("spark.job.description") === null)
  }

  test("read-back after a fresh commit starts no job: plain and chunked stages " +
      "read with the schema just written") {
    import spark.implicits._
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("ckpt_readback").toString
    val store = new CheckpointStore(spark, root, "cfg")
    val df = (1 to 60).map(i => (i.toLong, Array(i, i + 1), s"t$i")).toDF("id", "arr", "text")
    // jobs outside any SQL execution: what schema inference runs
    val outside = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.sql.execution.id") == null)
          outside.add(e.stageInfos.map(_.name).mkString(","))
    }
    sc.addSparkListener(listener)
    val (plain, chunked) =
      try (store.stage("plain")(df.repartition(3)), store.stage("chunked", chunkRows = Some(20L))(df))
      finally {
        org.apache.spark.sql.dedupbridge.drainListenerBus(sc, 10000L)
        sc.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    assert(outside.isEmpty, s"jobs outside an SQL execution: ${outside.asScala.mkString("; ")}")
    Seq("plain" -> plain, "chunked" -> chunked).foreach { case (name, got) =>
      val inferred = spark.read.parquet(s"$root/$name/data").drop("__pid__")
      assert(got.schema === inferred.schema, name)
      assert(got.exceptAll(inferred).isEmpty && got.count() === 60L, name)
    }
    assert(!chunked.columns.contains("__pid__"))
    assert(new java.io.File(s"$root/chunked/data/__pid__=0").isDirectory)
  }

  test("a nested stage's wall is not counted in the outer stage's wall") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt_nested").toString
    val store = new CheckpointStore(spark, root, "cfg")
    store.stage("outer") {
      store.stage("inner") { Thread.sleep(2000); Seq(1).toDF("x") }
      Seq(2).toDF("x")
    }
    val inner = store.manifest("inner").get("wall_sec").asInstanceOf[Double]
    val outer = store.manifest("outer").get("wall_sec").asInstanceOf[Double]
    assert(inner >= 2.0, s"inner=$inner")
    assert(outer < inner, s"outer=$outer counts inner=$inner")
    assert(store.manifest("outer").get("start_ms").asInstanceOf[Long] <=
      store.manifest("inner").get("start_ms").asInstanceOf[Long])
  }

  test("fork: a forked stage records its fork point's lineage and the join " +
      "appends it, whatever the thread timing") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt_fork").toString
    val store = new CheckpointStore(spark, root, "cfg")
    store.stage("a") { Seq(1).toDF("x") }
    val b = store.fork(store.stage("b") { Thread.sleep(300); Seq(2).toDF("x") })
    store.stage("c") { Seq(3).toDF("x") }
    assert(b.join().count() === 1L)
    store.stage("d") { Seq(4).toDF("x") }
    def lineage(s: String) = store.manifest(s).get("lineage")
    assert(lineage("b") === List("a"))
    assert(lineage("c") === List("a"))
    assert(lineage("d") === List("a", "c", "b"))
    store.writeRunSummary()
    val summary = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$root/SUMMARY.json"))
    import scala.jdk.CollectionConverters._
    assert(summary.get("stages").elements().asScala.map(_.get("stage").asText()).toList ===
      List("a", "c", "b", "d"))
  }
}
