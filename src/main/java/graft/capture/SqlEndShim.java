package graft.capture;

import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd;
import scala.Option;

/**
 * Bytecode-visibility shim for the {@code private[sql]} payload of
 * {@link SparkListenerSQLExecutionEnd} — this library's analog of the
 * reference's reflection shims (SURVEY.md §2.1 O28; reference
 * {@code hive/.../ShimLoader}-style version adapters): where the reference
 * reaches across Hive's version-private surface with runtime reflection,
 * this project reaches the few package-private Spark surfaces the capture
 * hook needs — chiefly the completed {@code QueryExecution} carried by the
 * SQL-execution-end listener event — at COMPILE time instead. Scala's {@code
 * private[sql]} qualifier exists only in the Scala signature metadata; the
 * JVM methods are public, so javac (which reads only bytecode) links them
 * directly: no {@code setAccessible}, no per-event reflective cost, and an
 * upgrade that removes these accessors fails the build rather than the run.
 */
final class SqlEndShim {
  private SqlEndShim() {}

  /** The completed execution's {@link QueryExecution}; may be null for
   *  events not posted through {@code SQLExecution.withNewExecutionId}. */
  static QueryExecution qe(SparkListenerSQLExecutionEnd e) {
    return e.qe();
  }

  /** Wall-clock duration in nanoseconds as measured by the engine itself
   *  (0 when the posting site did not set it). */
  static long durationNs(SparkListenerSQLExecutionEnd e) {
    return e.duration();
  }

  /** The failure that ended the execution, if any. */
  static Option<Throwable> failure(SparkListenerSQLExecutionEnd e) {
    return e.executionFailure();
  }

  /** The action name that triggered the execution (e.g. "collect"). */
  static Option<String> executionName(SparkListenerSQLExecutionEnd e) {
    return e.executionName();
  }

  /** The session's stable UUID ({@code private[sql]} on the classic
   *  session) — the live hook's SessionId. */
  static String sessionUUID(org.apache.spark.sql.classic.SparkSession s) {
    return s.sessionUUID();
  }

  /** Blocks until every event already posted to the context's listener
   *  bus has been delivered to its listeners ({@code private[spark]} on the
   *  context), or throws once {@code timeoutMs} has passed. */
  static void awaitListenerBus(org.apache.spark.SparkContext sc, long timeoutMs)
      throws java.util.concurrent.TimeoutException {
    sc.listenerBus().waitUntilEmpty(timeoutMs);
  }

  /** The scan's execution-time partition listing after dynamic pruning
   *  ({@code protected} on the trait) — the read-side partition entities. */
  static org.apache.spark.sql.execution.ScanFileListing dynamicallySelectedPartitions(
      org.apache.spark.sql.execution.FileSourceScanLike scan) {
    return scan.dynamicallySelectedPartitions();
  }
}
