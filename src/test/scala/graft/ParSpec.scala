package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-16 Par hardening contract: shared named daemon pool (not the
  * JVM-global commonPool), Spark job attribution carried from the
  * submitting thread to the pool leg, and the sequential failure contract
  * (first failure wins, unwrapped; async legs drained before rethrow). */
class ParSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("both/all3: values return to their declaration positions") {
    assert(Par.both(1 + 1, "x" * 2) === ((2, "xx")))
    assert(Par.all3(1, 2L, "3") === ((1, 2L, "3")))
  }

  test("exceptions propagate unwrapped, async leg drained before rethrow") {
    val bRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](
      Par.both(
        { Thread.sleep(50); throw new IllegalStateException("caller leg") },
        { Thread.sleep(150); bRan.set(true); 42 }))
    assert(e.getMessage === "caller leg")
    // the failure path awaited the running async leg — nothing detached
    assert(bRan.get())
    // async-leg failure propagates unwrapped too
    def boom(): Int = throw new IllegalArgumentException("async leg")
    val e2 = intercept[IllegalArgumentException](Par.both(1, boom()))
    assert(e2.getMessage === "async leg")
  }

  test("a wedged async leg cannot hang the caller leg's failure: bounded drain, then rethrow") {
    // the async leg blocks on a latch nobody opens until the end; the
    // caller leg throws. `both` must rethrow within the drain bound —
    // run it on its own thread so a hang fails this case instead of the
    // suite, and open the latch in `finally` so no pool thread stays parked
    val latch = new java.util.concurrent.CountDownLatch(1)
    val exec  = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val started = System.nanoTime()
      val call = exec.submit(new java.util.concurrent.Callable[Throwable] {
        def call(): Throwable =
          try { Par.both(throw new IllegalStateException("caller leg"), latch.await()); null }
          catch { case t: Throwable => t }
      })
      val thrown = call.get(Par.DrainBoundMs + 20000L, java.util.concurrent.TimeUnit.MILLISECONDS)
      val tookMs = (System.nanoTime() - started) / 1000000L
      assert(thrown.isInstanceOf[IllegalStateException] && thrown.getMessage === "caller leg")
      assert(tookMs < Par.DrainBoundMs + 5000L, s"rethrow took $tookMs ms")
    } finally {
      latch.countDown()
      exec.shutdownNow()
    }
  }

  test("a failed caller leg cancels the async leg's running Spark job") {
    val sc = spark.sparkContext
    val jobStarted = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarted.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val started = System.nanoTime()
      val legOutcome = new java.util.concurrent.atomic.AtomicReference[String]("running")
      val e = intercept[IllegalStateException](
        Par.both(
          { jobStarted.await(30, java.util.concurrent.TimeUnit.SECONDS)
            throw new IllegalStateException("caller leg") },
          // a job that would run for two minutes if nobody cancelled it;
          // its tasks stop once killed, so no task slot stays busy after
          try {
            sc.parallelize(1 to 2, 2).foreach { _ =>
              val ctx = org.apache.spark.TaskContext.get()
              val end = System.nanoTime() + 120000000000L
              while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
            }
            legOutcome.set("finished")
          } catch { case t: Throwable => legOutcome.set("failed: " + t.getMessage) }))
      val tookMs = (System.nanoTime() - started) / 1000000L
      assert(e.getMessage === "caller leg")
      assert(tookMs < Par.DrainBoundMs + 30000L, s"rethrow took $tookMs ms")
      // the drain waited for the leg, which ended because its job was cancelled
      assert(legOutcome.get().startsWith("failed"), legOutcome.get())
      assert(legOutcome.get().toLowerCase.contains("cancel"), legOutcome.get())
    } finally sc.removeSparkListener(listener)
  }

  test("async legs run on the graft pool and carry the caller's job description") {
    val sc = spark.sparkContext
    sc.setJobDescription("par-spec-attribution")
    try {
      val (_, (thread, desc)) = Par.both(
        (),
        (Thread.currentThread().getName,
          Option(sc.getLocalProperty("spark.job.description"))))
      assert(thread.startsWith("graft-par"))
      assert(desc === Some("par-spec-attribution"))
      // the pool thread's pinned attribution was cleared after the leg:
      // a second submit from a clean caller sees no stale description
      sc.setJobDescription(null)
      val (_, desc2) = Par.both((), Option(sc.getLocalProperty("spark.job.description")))
      assert(desc2 === None)
    } finally sc.setJobDescription(null)
  }
}
