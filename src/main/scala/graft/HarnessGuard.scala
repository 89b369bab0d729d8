package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

/** Per-query watchdog for the driver harnesses (r9 verdict #3): one
  * pathological query must never eat the round. `graft.Verify` and
  * `graft.Bench` run each query's action through [[run]], which executes
  * the body in a daemon thread under a dedicated Spark job group and, on
  * timeout, cancels the job group (interrupting its tasks) and abandons
  * the thread — the harness records a `TIMEOUT` error for that query and
  * moves on. A task stuck in non-interruptible compute leaks its thread
  * and task slot, which is the accepted cost: round 9 lost ALL of its
  * correctness and bench signal to one hung query (and round 6 before
  * it), so bounded per-query loss strictly dominates.
  *
  * The job group is set inside the worker thread (job groups are
  * thread-local), so only the guarded body's jobs are cancelled; the
  * harness's own bookkeeping jobs are unaffected. Jobs the body overlaps
  * run through [[Overlap.all]], whose branch threads are created inside
  * the body and so inherit its group: they are cancelled with it too.
  */
object HarnessGuard {
  /** Run `body` with a wall-clock bound. Returns Right(result) or
    * Left(errorMessage) — timeouts read `TIMEOUT after Ns`. */
  def run[T](spark: SparkSession, name: String, timeoutSec: Int)(body: => T): Either[String, T] = {
    val group = s"graft-guard-$name"
    val sc = spark.sparkContext
    val pool = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, s"graft-guard-$name"); t.setDaemon(true); t
    }
    val fut = pool.submit(new Callable[Either[String, T]] {
      def call(): Either[String, T] = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try Right(body)
        catch { case e: Throwable =>
          Left(e.getClass.getName + ": " + Option(e.getMessage).getOrElse("").take(160))
        }
        finally sc.clearJobGroup()
      }
    })
    try fut.get(timeoutSec.toLong, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        // STICKY cancel (r10 ADVICE): cancelJobGroup only kills jobs
        // already submitted — a body wedged in driver-side work between
        // jobs would submit its NEXT job after the cancel and run it to
        // completion on our task slots. Spark 4's and-future-jobs variant
        // keeps the group cancelled; group names are per-query-unique and
        // only this query's threads carry it (Overlap.all creates its
        // threads per call), so the stickiness can never hit a later query.
        sc.cancelJobGroupAndFutureJobs(group)
        // give the cancel a grace window to unwind cleanly
        try fut.get(10, TimeUnit.SECONDS)
        catch { case _: Throwable => () }
        // interrupt the worker too: Spark actions abort on driver-thread
        // interrupt, which also stops wedged DRIVER-side compute (planning,
        // codegen, driver loops) that job-group cancellation cannot reach
        fut.cancel(true)
        Left(s"TIMEOUT after ${timeoutSec}s (job group cancelled)")
      case e: ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        Left(c.getClass.getName + ": " + Option(c.getMessage).getOrElse("").take(160))
    } finally pool.shutdown()
  }
}
