package graft

import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.analytics.SessionCaches

/** `SessionCaches.memoValue` builds outside the registry monitor: one
  * build per key, no memoized failure, and nothing else waits on it.
  */
class SessionCachesSpec extends SparkSpec {

  /** `body` on another thread, failing the test instead of hanging. */
  private def within[T](seconds: Long)(body: => T): T =
    CompletableFuture.supplyAsync(() => body).get(seconds, TimeUnit.SECONDS)

  test("a memoValue build whose Parallel.all task calls track completes") {
    val v = within(120) {
      SessionCaches.memoValue(spark, "spec-track") {
        Parallel.all(Seq(
          () => SessionCaches.track(spark.range(3).toDF()).count(),
          () => 1L)).sum
      }
    }
    assert(v === 4L)
    SessionCaches.release(spark)
  }

  test("same-key callers share one build; other keys and track never wait on it") {
    val builds = new AtomicInteger()
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    def slow(): Int = SessionCaches.memoValue(spark, "spec-slow") {
      builds.incrementAndGet()
      started.countDown()
      gate.await()
      42
    }
    val callers = CompletableFuture.supplyAsync(() => Parallel.all(Seq(() => slow(), () => slow())))
    assert(started.await(60, TimeUnit.SECONDS))
    // while that build is blocked: another key and an anonymous track
    try within(60) {
      assert(SessionCaches.memoValue(spark, "spec-other")(7) === 7)
      SessionCaches.track(spark.range(1).toDF())
    } finally gate.countDown()
    assert(callers.get(60, TimeUnit.SECONDS) === Seq(42, 42))
    assert(builds.get === 1)
    assert(slow() === 42 && builds.get === 1)
    SessionCaches.release(spark)
  }

  test("a failed memoValue build is not memoized") {
    val e = intercept[IllegalStateException] {
      SessionCaches.memoValue[Int](spark, "spec-fail")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage === "boom")
    assert(SessionCaches.memoValue(spark, "spec-fail")(5) === 5)
    SessionCaches.release(spark)
  }
}
