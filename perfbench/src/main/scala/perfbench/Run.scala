package perfbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** State shared by one benchmark run: the session, the seed, the work
  * directory, the failure counters and (in the traced run) the tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String) {
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L

  def dir(name: String): String = s"$work/$name"

  def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

  /** One timed operation. A throw is counted as a failure, its exception
    * class is logged, and its time is kept out of the latency samples.
    */
  def op[T](name: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = span(name)(f)
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: op $name failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }
}

/** What one timed window measured.
  *  - `units`: wall of each complete unit of work (a backfill + tails
  *    repetition, one sinks epoch, one serve iteration, one query pass);
  *  - `ops`: latency of each timed operation inside the units;
  *  - `events`: change events ingested (0 for the query suite);
  *  - `views`: the workload's own named metrics (README: workload views).
  */
final case class Window(units: Seq[Double], ops: Seq[Double], events: Double,
                        wall: Double, views: Map[String, Double])

trait Workload {
  /** One data set-up repetition (`r` = 0, 1, 2); set-up time is the median. */
  def setup(c: Ctx, r: Int): Unit
  /** Untimed work before the window (JIT, codegen, first-call costs); once. */
  def warmUp(c: Ctx): Unit
  def window(c: Ctx, seconds: Double): Window
  /** Per-layer numbers only the workload knows (table/index state). */
  def layers(c: Ctx): Map[String, Double] = Map.empty
  /** Output checks after the timed windows; returns the failures. */
  def check(c: Ctx): Seq[String]
  def close(c: Ctx): Unit = ()
}

object Units {
  /** Run whole units of work in a window of `seconds`: at least one, and
    * another only while the last one's wall says it can still finish
    * inside the window. `unit` returns its wall, or None to stop early.
    * Returns the unit walls and the window's wall.
    */
  def run(seconds: Double)(unit: => Option[Double]): (Seq[Double], Double) = {
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var go = true
    while (go && (walls.isEmpty || elapsed + walls.last <= seconds))
      unit match {
        case Some(w) => walls += w
        case None => go = false
      }
    (walls.toSeq, elapsed)
  }

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Seconds covered by the union of [t0, t1) nanosecond intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total / 1e9
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else graft.FsUtil.walkDir(p)(_.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum)
  }
}
