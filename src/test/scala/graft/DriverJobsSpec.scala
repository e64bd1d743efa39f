package graft

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.operators.DriverJobs

/** Pins the hardened driver-pool semantics (VERDICT r20 #6): a poisoned
  * future surfaces the ORIGINAL exception, results keep input order, and
  * siblings are interrupted rather than left running unobserved — their
  * Spark jobs cancelled, not just their threads.
  */
class DriverJobsSpec extends SparkSpec {

  test("results return in input order, not completion order") {
    val out = DriverJobs.awaitAll(Seq(
      () => { Thread.sleep(120); "slow" },
      () => "fast",
      () => { Thread.sleep(40); "mid" }), maxThreads = 3)
    assert(out === Seq("slow", "fast", "mid"))
  }

  test("a poisoned thunk surfaces the original exception (fail-fast)") {
    val boom = new IllegalStateException("original failure")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      DriverJobs.awaitAll[Any](Seq(
        () => throw boom,
        () => { Thread.sleep(5000); "never awaited this long" }),
        maxThreads = 2)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(e eq boom, "must rethrow the ORIGINAL exception object")
    // fail-fast: the await must not wait out the 5 s sibling
    assert(elapsedMs < 4000, f"await took $elapsedMs%.0f ms — not fail-fast")
  }

  test("a failure interrupts sibling threads (shutdownNow)") {
    val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[RuntimeException] {
      DriverJobs.awaitAll[Any](Seq(
        () => { Thread.sleep(50); throw new RuntimeException("fail") },
        () => try { Thread.sleep(5000); "done" }
        catch { case _: InterruptedException => interrupted.set(true); "int" }),
        maxThreads = 2)
    }
    // the sibling's interrupt lands asynchronously after shutdownNow
    val deadline = System.nanoTime() + 2000L * 1000000L
    while (!interrupted.get() && System.nanoTime() < deadline) Thread.sleep(10)
    assert(interrupted.get(), "sibling thread was not interrupted")
  }

  test("empty work fails loudly; single thunk runs on one thread") {
    intercept[IllegalArgumentException] { DriverJobs.awaitAll[Int](Nil) }
    assert(DriverJobs.awaitAll(Seq(() => 42), maxThreads = 0) === Seq(42))
  }

  test("a failure cancels a sibling's running Spark job") {
    val sc = spark.sparkContext
    val marker = "driver-jobs-cancel-sibling"
    val started = new java.util.concurrent.CountDownLatch(1)
    val siblingJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val failedAt = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) {
          siblingJob.set(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
        case _: JobFailed => failedAt.put(e.jobId, System.nanoTime())
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val boom = new IllegalStateException("poisoned")
      intercept[IllegalStateException] {
        DriverJobs.awaitAll[Any](Seq(
          () => {
            assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS),
              "sibling job never started")
            throw boom
          },
          () => {
            sc.setJobDescription(marker)
            // each task idles up to 30 s, ending early once killed
            sc.parallelize(1 to 4, 4).map { i =>
              val end = System.nanoTime() + 30L * 1000000000L
              while (!TaskContext.get().isInterrupted() && System.nanoTime() < end)
                Thread.sleep(20)
              i
            }.count()
          }), maxThreads = 2)
      }
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!failedAt.containsKey(siblingJob.get()) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(failedAt.containsKey(siblingJob.get()),
        s"sibling job ${siblingJob.get()} was not cancelled within 10 s")
    } finally sc.removeSparkListener(listener)
  }
}
