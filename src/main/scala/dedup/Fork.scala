package dedup

/** A computation running on its own thread: how the pipeline runs
  * stages that share no data dependency at the same time.
  *
  * The thread is created by the caller, so it inherits the caller's
  * SparkContext local properties (job group, job description) and active
  * session as they stand at that moment. Start a fork only outside any
  * SQL execution (never from inside an action): a thread created there
  * would inherit that execution's `spark.sql.execution.id`. Every fork
  * gets a fresh thread, never a pooled one, because a pooled thread keeps
  * the local properties of whichever caller first created it.
  *
  * `joined` runs on the joining thread each time [[join]] returns or
  * throws; [[CheckpointStore.fork]] uses it to merge stage lineage. */
final class Fork[A] private (body: () => A, joined: () => Unit) {
  // written by the fork's thread, read after Thread.join (happens-before)
  private[this] var outcome: Either[Throwable, A] = _
  private val thread = new Thread(() =>
    outcome = try Right(body()) catch { case t: Throwable => Left(t) },
    "dedup-fork")
  thread.setDaemon(true)

  /** Waits for the body, whatever its outcome. */
  def await(): Unit = thread.join()

  /** Waits for the body: its value, or the exception it threw, as thrown. */
  def join(): A = {
    await()
    joined()
    outcome.fold(e => throw e, identity)
  }
}

object Fork {
  /** Starts `body` on a new thread. */
  def apply[A](body: => A, joined: () => Unit = () => ()): Fork[A] = {
    val f = new Fork(() => body, joined)
    f.thread.start()
    f
  }
}
