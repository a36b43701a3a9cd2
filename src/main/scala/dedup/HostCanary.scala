package dedup

/** Host CPU-scaling canary — Spark-free attribution for the N→4N
  * scaling-efficiency gate.
  *
  * The gate compares the SAME job at N and 4N cores. On a dedicated
  * cluster the only things that can break linearity are the engine's own
  * serial fractions, shuffles and skew. On a shared/oversubscribed host,
  * a fourth factor appears: per-thread CPU throughput itself degrades as
  * concurrency rises (SMT siblings, cgroup throttling, memory-bandwidth
  * saturation, hypervisor steal). No engine change can recover that.
  *
  * This canary separates the two by running pure JVM arithmetic with ZERO
  * coordination — no shared state, no allocation in the hot loop, no
  * barriers except start/stop:
  *
  *   - `l2`: xxh64 over a 64 KiB buffer (L1/L2-resident). Bounded by core
  *     ALU throughput only; any per-thread degradation here is host CPU
  *     contention (SMT/steal/throttle), impossible to blame on memory.
  *   - `mem`: xxh64 over a 64 MiB buffer (streams DRAM). Adds the
  *     memory-bandwidth ceiling — the regime shingling/hashing lives in.
  *
  * Reported per thread-count: aggregate MB/s and per-thread efficiency vs
  * the 1-thread run. The engine's measured N→4N efficiency divided by the
  * canary's efficiency over the same core pair is the engine-attributable
  * scaling — the number the gate is actually about.
  *
  * Usage: runMain dedup.HostCanary [threadCounts...] (default 1 2 4 8 16 32)
  */
object HostCanary {

  private def hashLoop(buf: Array[Byte], iters: Int): Long = {
    var acc = 0L
    var i = 0
    while (i < iters) {
      acc ^= Hashes.xxh64(buf, acc)
      i += 1
    }
    acc
  }

  /** Run `threads` workers for ~`targetMs`; returns (bytesHashed, wallNs). */
  private def measure(threads: Int, bufBytes: Int, targetMs: Long): (Long, Long) = {
    val itersPerCall = math.max(1, (4 << 20) / bufBytes) // ~4 MiB per call
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val start = new java.util.concurrent.CyclicBarrier(threads + 1)
    val done = new java.util.concurrent.CountDownLatch(threads)
    val sink = new java.util.concurrent.atomic.AtomicLong(0L) // defeat DCE
    val workers = (0 until threads).map { _ =>
      val t = new Thread(() => {
        val buf = new Array[Byte](bufBytes) // per-thread buffer (no sharing)
        new java.util.Random(42).nextBytes(buf)
        start.await()
        var local = 0L
        while (!stop.get()) {
          sink.addAndGet(hashLoop(buf, itersPerCall))
          local += itersPerCall.toLong * bufBytes
        }
        bytes.addAndGet(local)
        done.countDown()
      })
      t.setDaemon(true); t.start(); t
    }
    start.await()
    val t0 = System.nanoTime()
    Thread.sleep(targetMs)
    stop.set(true)
    done.await()
    val wall = System.nanoTime() - t0
    workers.foreach(_.join(1000))
    (bytes.get(), wall)
  }

  /** One-number canary for embedding in bench outputs: aggregate
    * L1/L2-resident hash throughput (MB/s) at `threads` workers over
    * ~`targetMs`. Deterministic work, zero coordination — the ratio of
    * two runs' canaries is the host-speed ratio between their windows,
    * letting cross-round bench totals be normalized instead of guessed
    * at (the ±1.8× host-window problem VERDICT r3 flagged). */
  def quickMbps(threads: Int, targetMs: Long = 500L): Double = {
    val (bytes, ns) = measure(threads, 64 << 10, targetMs)
    bytes / 1e6 / (ns / 1e9)
  }

  /** (busy, steal) jiffies from /proc/stat; (0, 0) where it is unreadable.
    * Hypervisor steal is the dominant confound on a shared host: sustained
    * multi-core load triggers 10-22% steal bursts while single-core load
    * runs at ≤1.5% (BENCH/BASELINE.md round 3), so every bench run records
    * its steal share and is self-attributing. */
  def procStat: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val l = try src.getLines().next() finally src.close()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Throwable => (0L, 0L) }

  /** Steal share (%) of the CPU time between two [[procStat]] readings. */
  def stealPct(b0: (Long, Long), b1: (Long, Long)): Double = {
    val d = (b1._1 - b0._1) + (b1._2 - b0._2)
    if (d > 0) 100.0 * (b1._2 - b0._2) / d else 0.0
  }

  def main(args: Array[String]): Unit = {
    val counts =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 2, 4, 8, 16, 32)
    val targetMs = sys.env.getOrElse("CANARY_MS", "8000").toLong
    for ((label, bufBytes) <- Seq(("l2", 64 << 10), ("mem", 64 << 20))) {
      // warmup: JIT the hot loop before any timed run
      measure(2, bufBytes, 1500)
      var base = 0.0
      val rows = counts.map { n =>
        val (b, w) = measure(n, bufBytes, targetMs)
        val mbps = b / 1e6 / (w / 1e9)
        if (n == counts.head) base = mbps / n
        val perThreadEff = (mbps / n) / base
        (n, mbps, perThreadEff)
      }
      val json = rows.map { case (n, mbps, eff) =>
        f"""{"threads":$n,"mbps":$mbps%.0f,"perThreadEff":$eff%.3f}"""
      }.mkString(",")
      println(s"""{"canary":"$label","bufBytes":$bufBytes,"runs":[$json]}""")
    }
  }
}
