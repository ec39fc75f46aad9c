package graft

/** Overlap independent Spark-job-bearing tasks (guide §2.6 "overlap
  * independent jobs"): each task runs on its own daemon thread, so the
  * wall is the slowest task, not their sum, and executors do not sit
  * idle through each job's scheduling/commit tail.
  *
  * Failure contract — the one concurrency idiom every overlap site uses:
  *  - every task is joined before anything is rethrown, so a failure
  *    never leaves a sibling's job running in the background;
  *  - the FIRST failure (in completion order) is rethrown, whatever its
  *    type; later failures ride along as suppressed exceptions — no
  *    `Throwable` is swallowed;
  *  - an interrupt of the calling thread while it waits does not abandon
  *    the siblings: the join continues, and the caller's interrupt flag
  *    is set again before returning or rethrowing.
  */
object Parallel {

  /** Run `tasks` concurrently and return their results in task order. */
  def all[T](tasks: Seq[() => T]): Seq[T] = {
    if (tasks.size <= 1) return tasks.map(_())
    val results = new Array[Any](tasks.size)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() =>
        try results(i) = t() catch { case e: Throwable => errs.add(e); () })
      th.setDaemon(true)
      th.start()
      th
    }
    var interrupted = false
    threads.foreach { th =>
      while (th.isAlive)
        try th.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val first = errs.poll()
    if (first != null) {
      errs.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    results.toSeq.map(_.asInstanceOf[T])
  }
}
