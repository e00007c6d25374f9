package graft.sink

import java.io.{IOException, UncheckedIOException}

/** O22 — retry with quadratic backoff (reference
  * `EventLogger.java:196-239`, `MAX_RETRIES = 2` at `:58`): an event write
  * that fails with an IO-shaped error is retried up to `maxRetries` more
  * times, sleeping retryCount² seconds before each retry (0 s before the
  * first — "assuming fs object was closed and open will fix it", then 1 s,
  * 4 s, ...). Non-IO failures are never retried: a schema or logic error
  * does not heal with time.
  *
  * Spark-first placement: the reference retries per RECORD because its
  * writer is a single daemon thread. In Spark, per-record and per-task
  * failures are already retried by the engine (`spark.task.maxFailures`),
  * so the layer that still needs this policy is the DRIVER-SIDE batch
  * commit — a whole `df.write` against a transiently unavailable
  * filesystem. Two deliberate divergences from the reference, both
  * documented here because they are spec choices, not oversights:
  *
  *  - the reference SLEEPS retryCount² once more after the FINAL failure
  *    and then falls out of the loop (a pointless parting sleep) — we
  *    rethrow immediately;
  *  - the reference then DROPS the event silently (loop exit, error log
  *    only). At 100 TB a silently missing batch is an audit hole, so the
  *    final failure propagates and the caller (or the scheduler's own
  *    retry) decides.
  */
object Retry {

  /** True for the failure shapes a retry can plausibly heal: IO errors
    * anywhere in the cause chain (Spark wraps sink IO failures in
    * SparkException layers). */
  def ioShaped(t: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    @annotation.tailrec
    def loop(x: Throwable): Boolean = x match {
      case null => false
      case _: IOException | _: UncheckedIOException => true
      case _ if !seen.add(x) => false // cause cycle
      case _ => loop(x.getCause)
    }
    loop(t)
  }

  /** Run `op`, retrying [[ioShaped]] failures with the reference's
    * quadratic schedule. `sleep` is injectable so tests pin the schedule
    * without wall-clock waits. Throws the last failure after
    * `maxRetries` retries; other failures propagate immediately. */
  def withBackoff[T](maxRetries: Int = 2,
                     sleep: Long => Unit = Thread.sleep)(op: => T): T = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: Throwable if ioShaped(e) && attempt < maxRetries =>
          sleep(1000L * attempt * attempt) // 0 s, 1 s, 4 s, ...
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
