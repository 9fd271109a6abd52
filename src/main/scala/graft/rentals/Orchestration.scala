package graft.rentals

import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.logging.log4j.LogManager

/** Orchestration semantics of the reference DAG, engine-side — the retry /
  * failure-callback / stage-chain behavior a user replacing the scheduler
  * would otherwise lose (`dags/rental_pipeline_dag.py:24-52`: default_args
  * `retries: 1`, `retry_delay: timedelta(minutes=5)`, and an
  * `on_failure_callback` that logs dag/task/date/exception).
  *
  * Scheduling itself (the `@weekly` cron trigger, catchup) stays with
  * whatever invokes the pipeline — cron, a workflow engine, the driver —
  * per the engine/driver contract; what belongs IN the engine is the
  * per-stage execution policy, because that is what decides whether a
  * transient executor loss kills the run. The runner is deterministic and
  * injectable (sleep + callback are parameters), so retry behavior is
  * spec-tested without wall-clock delays.
  *
  * Stages pass PATHS, not data (the reference's XCom contract:
  * `download → raw_path → transform → processed_path → dq → load`), so a
  * retried stage re-reads its input from storage — idempotent by
  * construction as long as each stage writes with overwrite semantics,
  * which [[Io.writeProcessed]] does.
  */
object Orchestration {

  /** Mirror of the DAG's `default_args`: one retry, 5-minute delay. */
  final case class RetryPolicy(retries: Int = 1, retryDelay: FiniteDuration = 5.minutes)

  /** What the failure callback receives — the reference logs dag id, task
    * id, execution date, and the exception (`rental_pipeline_dag.py:31-47`);
    * `attempt` is 1-based, `willRetry` distinguishes a retryable failure
    * from the terminal one.
    */
  final case class StageFailure(
      pipeline: String,
      stage: String,
      attempt: Int,
      willRetry: Boolean,
      error: Throwable)

  /** Per-stage outcome for the run report (attempts includes the
    * successful one).
    */
  final case class StageReport(stage: String, attempts: Int, succeeded: Boolean)

  /** Runs named stages under a retry policy with a failure callback.
    *
    * @param pipeline   name carried into every [[StageFailure]]
    * @param policy     retries per stage + delay between attempts
    * @param onFailure  invoked on EVERY failed attempt (the reference's
    *                   callback fires on terminal failure; `willRetry`
    *                   carries that distinction)
    * @param sleep      injected so specs assert the requested delays
    *                   without waiting them out
    */
  final class StageRunner(
      pipeline: String,
      policy: RetryPolicy = RetryPolicy(),
      onFailure: StageFailure => Unit = StageRunner.logFailure,
      sleep: FiniteDuration => Unit = d => Thread.sleep(d.toMillis)) {

    private val reportsBuf = scala.collection.mutable.ArrayBuffer.empty[StageReport]

    /** Stage reports in execution order (one per completed `run` call). */
    def reports: Seq[StageReport] = reportsBuf.toSeq

    /** Executes `body`, retrying up to `policy.retries` times with
      * `policy.retryDelay` between attempts; the terminal failure is
      * rethrown after the callback (fail the run, like a failed DAG task
      * with exhausted retries). Fatal errors (OOM etc.) propagate
      * immediately — retrying those hides real breakage.
      */
    def run[A](stage: String)(body: => A): A = {
      val maxAttempts = policy.retries + 1
      var attempt = 1
      while (true) {
        try {
          val out = body
          reportsBuf += StageReport(stage, attempt, succeeded = true)
          return out
        } catch {
          case NonFatal(e) =>
            val willRetry = attempt < maxAttempts
            onFailure(StageFailure(pipeline, stage, attempt, willRetry, e))
            if (!willRetry) {
              reportsBuf += StageReport(stage, attempt, succeeded = false)
              throw e
            }
            sleep(policy.retryDelay)
            attempt += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  object StageRunner {
    private lazy val log = LogManager.getLogger(getClass)

    /** Default callback — the reference's `_on_failure_callback` log line
      * shape (`rental_pipeline_dag.py:40-47`), through Spark's log4j in
      * place of the scheduler's logger.
      */
    def logFailure(f: StageFailure): Unit =
      log.error(
        s"[orchestration] stage failed: pipeline=${f.pipeline} stage=${f.stage} " +
          s"attempt=${f.attempt} willRetry=${f.willRetry} error=${f.error.getMessage}")
  }
}
