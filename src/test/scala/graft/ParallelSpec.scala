package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The shared overlap helper's failure contract: results in task order,
  * every sibling joined before a failure surfaces, no Throwable
  * swallowed, and a waiting caller's interrupt neither abandons the
  * tasks nor gets lost.
  */
class ParallelSpec extends AnyFunSuite {

  private final class TaskError(msg: String) extends Error(msg)

  test("results come back in task order") {
    val out = Parallel.all(Seq(
      () => { Thread.sleep(100); "slow" },
      () => "fast",
      () => { Thread.sleep(30); "mid" }))
    assert(out === Seq("slow", "fast", "mid"))
  }

  test("a failing task surfaces only after its sibling has finished") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Parallel.all(Seq(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(300); siblingDone.set(true) }))
    }
    assert(e.getMessage === "boom")
    assert(siblingDone.get, "failure rethrown while a sibling was still running")
  }

  test("an Error subclass is rethrown, not swallowed; later failures ride as suppressed") {
    val e = intercept[TaskError] {
      Parallel.all(Seq(
        () => throw new TaskError("first"),
        () => { Thread.sleep(100); throw new RuntimeException("later") }))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("later"))
  }

  test("an interrupt of the waiting caller still joins every task and re-sets the flag") {
    val caller = Thread.currentThread()
    val done = new AtomicBoolean(false)
    val out = Parallel.all(Seq(
      () => { caller.interrupt(); Thread.sleep(200); done.set(true); 1 },
      () => 2))
    // Thread.interrupted also clears the flag for the rest of the suite
    assert(Thread.interrupted(), "the caller's interrupt flag was lost")
    assert(done.get)
    assert(out === Seq(1, 2))
  }
}
