package dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** Two-parallelism scaling measurement (BASELINE.md protocol): the same
  * job on the same parquet input at local[N] and local[4N], shuffle
  * partitions ∝ cores; reports docs/sec at both levels and
  * efficiency = (throughputB / throughputA) / 4. Gate: ≥ 0.8.
  *
  * The deterministic synthetic corpus is written to parquet once
  * (untimed) and both runs read it — the timed section is exactly what a
  * production job does, and each parallelism level gets an identical,
  * pushdown-able input. This evidences the north_rule N→4N executor
  * criterion in a single-host sandbox: the parallelism-sensitive choices
  * (shuffle partitions, salted aggregation, no driver-side loops) are the
  * same ones that govern multi-executor scaling; a real cluster swaps
  * `--master local[N]` for `--num-executors`.
  *
  * Usage: runMain dedup.ScalingBench [nDocs] [coresA] [coresB]
  */
object ScalingBench {

  /** shuffle partitions per core: >1 smooths stragglers on the big
    * shuffles (AQE coalesces the small ones back) — with exactly
    * cores partitions one slow task idles a whole core slot. */
  private val partsPerCore = 2

  private def session(cores: Int, name: String): SparkSession = {
    // SPARK_GRAFT_MASTER overrides local[cores] — used for the standalone-
    // cluster runs (spark://…), where `cores` is the job's TOTAL executor
    // cores (--total-executor-cores) and only sizes shuffle partitions
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val s = SparkSession.builder()
      .master(master)
      .appName(name)
      // SPARK_GRAFT_SHUFFLE_PARTITIONS decouples partition count from core
      // count — the control experiment for CPU-inflation attribution (same
      // partition count at both parallelism levels ⇒ any remaining
      // per-core slowdown is concurrency, not partitioning)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
          (cores * partsPerCore).toString))
      // Scan-split sizing: the CPU-heavy phases (shingling, 250-lane
      // MinHash signatures) are NARROW transforms — their parallelism is
      // the parquet scan's split count, not shuffle.partitions. At the
      // default 128 MB maxPartitionBytes a 1.5 GB bench corpus packs into
      // ~13 splits, capping BOTH parallelism levels at 13 tasks and
      // flattening the measured scaling curve (measured: 2M docs,
      // 1×4c = 553 s ≈ 4×4c = 555 s). 16 MB gives ~100 splits — ≥3×cores
      // at every level measured here. At 100 TB the same default yields
      // ~800k splits and this setting is irrelevant; it matters exactly when
      // corpus_bytes / 128 MB < 3 × total_cores.
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // tmpfs shuffle dirs: the sandbox's /tmp disk shows bursty IO
      // throttling; scaling is measured against RAM-backed local dirs the
      // way a production cluster would use local NVMe
      .config("spark.local.dir", "/dev/shm/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def fresh(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  /** total JVM CPU nanoseconds (all threads). The work-inflation ratio
    * cpuSec(4N)/cpuSec(N) attributes sub-linear wall scaling: ≈1.0 means
    * the engine did the same work and the gap is host steal / stage
    * barriers; >1 means per-core slowdown (memory-bandwidth contention in
    * a single-socket JVM — a multi-executor cluster adds sockets, not
    * threads-per-socket, so that component does not transfer). */
  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Cluster-wide task metrics (a SparkListener sums per-task counters):
    * in cluster mode the driver JVM's own CPU clock misses the executors,
    * so attribution needs the task-level view — taskCpuSec is the real
    * compute, taskRunSec−taskCpuSec the executor-side wait (fetch, spill,
    * scheduling), wall·cores−taskRunSec the idle slots. */
  private final class TaskAgg extends org.apache.spark.scheduler.SparkListener {
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val fetchWaitMs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        tasks.incrementAndGet()
      }
    }
  }

  case class RunStats(
      sec: Double, n: Long, removed: Long, gcSec: Double, cpuSec: Double,
      taskRunSec: Double, taskCpuSec: Double, taskGcSec: Double,
      fetchWaitSec: Double, tasks: Long, stealPct: Double)

  private def runOnce(cores: Int, input: String, cfg: DedupConfig): RunStats = {
    val spark = session(cores, s"scaling-$cores")
    try {
      val docs = spark.read.parquet(input)
      // warm JIT/codegen on a real slice, untimed (generated-code and
      // hot-loop compilation otherwise lands in the first timed run).
      // The slice is an id-modulo filter, NOT limit(): limit reads the
      // minimum number of splits, so in multi-executor mode it JIT-warms
      // ONE executor and the others enter the timed run interpreted —
      // measured as 1.21× task-CPU inflation at 4×1c executors. A
      // per-partition filter runs the hot loops on every executor.
      // warmup fraction = 1/mod of rows; in K-executor mode each JVM sees
      // only 1/K of them, so C2 tiering needs mod small enough that
      // rows/(mod·K) still clears the compile thresholds
      val warmupMod = sys.env.getOrElse("SPARK_GRAFT_WARMUP_MOD", "50").toLong
      FuzzyDedup.assignments(
        docs.where(pmod(col("id"), lit(warmupMod)) === 0), cfg).count()
      val agg = new TaskAgg
      spark.sparkContext.addSparkListener(agg)
      val gc0 = gcMillis
      val cpu0 = cpuNanos
      val stat0 = HostCanary.procStat
      val t0 = System.nanoTime()
      val res = FuzzyDedup.run(docs, cfg)
      val assigns = res.assignments
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = assigns.count()
      val removed = assigns.where(col("id") =!= col("component")).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // drain queued listener events before reading the counters
      org.apache.spark.sql.dedupbridge.drainListenerBus(spark.sparkContext, 30000L)
      val stealPct = HostCanary.stealPct(stat0, HostCanary.procStat)
      RunStats(sec, n, removed, (gcMillis - gc0) / 1e3, (cpuNanos - cpu0) / 1e9,
        agg.runMs.get / 1e3, agg.cpuNs.get / 1e9, agg.gcMs.get / 1e3,
        agg.fetchWaitMs.get / 1e3, agg.tasks.get, stealPct)
    } finally {
      spark.stop()
      fresh()
    }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 40000L
    val coresA = if (args.length > 1) args(1).toInt else 8
    val coresB = if (args.length > 2) args(2).toInt else 32
    // the CLI's defaults
    val cfg = DedupConfig()
    // materialize the corpus once, untimed, at full parallelism. Ids are the
    // CLI's xxhash64(url): star-hub election depends on the id values, so
    // only the CLI's ids give the CLI's `removed` on the same pages.
    val input = s"/dev/shm/scaling_pages_$nDocs"
    val prep = session(coresB, "scaling-prep")
    if (!new java.io.File(s"$input/_SUCCESS").exists())
      Synth.corpus(prep, nDocs, cfg.seed).select(xxhash64(col("url")).as("id"), col("text"))
        .write.mode("overwrite").parquet(input)
    prep.stop()
    fresh()

    // single-level mode (coresA == coresB): one measurement per JVM — the
    // honest analogue of two separate spark-submit jobs; a wrapper combines
    if (coresA == coresB) {
      val r = runOnce(coresA, input, cfg)
      println(f"""{"docs":$nDocs,"removed":${r.removed},"cores":$coresA,"sec":${r.sec}%.2f,""" +
        f""""gcSec":${r.gcSec}%.2f,"cpuSec":${r.cpuSec}%.1f,""" +
        f""""taskRunSec":${r.taskRunSec}%.1f,"taskCpuSec":${r.taskCpuSec}%.1f,""" +
        f""""taskGcSec":${r.taskGcSec}%.1f,"fetchWaitSec":${r.fetchWaitSec}%.1f,""" +
        f""""tasks":${r.tasks},"slotUtil":${r.taskRunSec / (r.sec * coresA)}%.3f,""" +
        f""""stealPct":${r.stealPct}%.1f,"docsPerSec":${nDocs / r.sec}%.1f}""")
      return
    }

    // the sandbox host shows bimodal IO/CPU behavior across minutes-apart
    // runs; interleave A/B twice and take the per-level minimum — the
    // engine's scaling, not the host's weather
    val a1 = runOnce(coresA, input, cfg)
    val b1 = runOnce(coresB, input, cfg)
    val a2 = runOnce(coresA, input, cfg)
    val b2 = runOnce(coresB, input, cfg)
    require(a1.n == b1.n && a1.removed == b1.removed,
      s"parallelism changed results: (${a1.n},${a1.removed}) vs (${b1.n},${b1.removed})")
    val secA = math.min(a1.sec, a2.sec)
    val secB = math.min(b1.sec, b2.sec)
    val thA = nDocs / secA
    val thB = nDocs / secB
    val eff = (thB / thA) / (coresB.toDouble / coresA)
    println(f"""{"docs":$nDocs,"removed":${a1.removed},"coresA":$coresA,"coresB":$coresB,""" +
      f""""secA":$secA%.2f,"secB":$secB%.2f,"secA_runs":[${a1.sec}%.2f,${a2.sec}%.2f],""" +
      f""""secB_runs":[${b1.sec}%.2f,${b2.sec}%.2f],"gcA":[${a1.gcSec}%.1f,${a2.gcSec}%.1f],""" +
      f""""gcB":[${b1.gcSec}%.1f,${b2.gcSec}%.1f],""" +
      f""""cpuA":[${a1.cpuSec}%.1f,${a2.cpuSec}%.1f],"cpuB":[${b1.cpuSec}%.1f,${b2.cpuSec}%.1f],""" +
      f""""taskCpuA":[${a1.taskCpuSec}%.1f,${a2.taskCpuSec}%.1f],""" +
      f""""taskCpuB":[${b1.taskCpuSec}%.1f,${b2.taskCpuSec}%.1f],""" +
      f""""stealA":[${a1.stealPct}%.1f,${a2.stealPct}%.1f],""" +
      f""""stealB":[${b1.stealPct}%.1f,${b2.stealPct}%.1f],""" +
      f""""docsPerSecA":$thA%.1f,"docsPerSecB":$thB%.1f,""" +
      f""""speedup":${thB / thA}%.3f,"efficiency":$eff%.3f}""")
  }
}
