package perfbench

import scala.collection.mutable.ArrayBuffer

/** Percentiles under the reporting rule: a percentile is reported only
  * when at least [[MinBeyond]] samples lie beyond it, so a tail figure is
  * never read off one or two outliers.
  */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile (q in (0, 1)), or None when fewer than
    * [[MinBeyond]] samples lie above the rank.
    */
  def percentile(values: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"percentile $q outside (0, 1)")
    val n = values.size
    val rank = math.ceil(q * n).toInt // 1-based
    if (n == 0 || n - rank < MinBeyond) None
    else Some(values.sorted.apply(rank - 1))
  }

  /** Smallest sample count for which [[percentile]] reports `q`. */
  def minSamples(q: Double): Int =
    Iterator.from(1).find(n => n - math.ceil(q * n).toInt >= MinBeyond).get

  def median(values: Seq[Double]): Double = {
    require(values.nonEmpty, "median of no values")
    val s = values.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(values: Seq[Double]): Double =
    if (values.isEmpty) 0.0 else values.sum / values.size
}

/** Time source for the open-loop generator; a fake one drives the tests. */
trait Clock {
  def nanos(): Long
  def sleepUntil(deadline: Long): Unit
}

object SystemClock extends Clock {
  def nanos(): Long = System.nanoTime()
  def sleepUntil(deadline: Long): Unit = {
    var left = deadline - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = deadline - System.nanoTime()
    }
  }
}

/** One hand-off from the generator: events [first, end) under one source
  * offset, handed over at `handedAt`.
  */
final case class Chunk(offset: Long, first: Int, end: Int, handedAt: Long)

/** Open-loop generator: event i is due at `start + i / rate`, whatever the
  * consumer is doing. Every event already due is handed over in one call
  * to `emit`, which returns the source offset it was stored under. The
  * generator's own lateness (hand-off time minus the oldest due time in
  * the hand-off) is recorded, so a stalled generator is reported rather
  * than silently lowering the offered rate.
  */
final class OpenLoop(ratePerSec: Double, events: Int, clock: Clock,
    emit: (Int, Int) => Long) {
  require(ratePerSec > 0 && events > 0)
  private val stepNs = 1e9 / ratePerSec
  val chunks = ArrayBuffer.empty[Chunk]
  private var startNs = 0L

  def due(i: Int): Long = startNs + (i * stepNs).toLong

  /** Runs until every event is handed over or `stop()` returns true. */
  def run(stop: () => Boolean = () => false): Unit = {
    startNs = clock.nanos()
    var next = 0
    while (next < events && !stop()) {
      clock.sleepUntil(due(next))
      val now = clock.nanos()
      val end = math.min(events,
        math.max(next + 1, ((now - startNs) / stepNs).toInt + 1))
      val off = emit(next, end)
      chunks += Chunk(off, next, end, now)
      next = end
    }
  }

  def emitted: Int = chunks.lastOption.map(_.end).getOrElse(0)

  /** Largest hand-off delay behind a due time, in ms. */
  def lateMsMax: Double =
    if (chunks.isEmpty) 0.0
    else chunks.map(c => (c.handedAt - due(c.first)) / 1e6).max
}

/** Open-loop latency accounting: an event's latency runs from its due
  * time to the commit of the first batch whose end offset covers the
  * offset its chunk was stored under. Time spent queued behind a stalled
  * consumer therefore counts against every event that waited.
  */
object Latency {
  /** `batches`: (end offset, commit nanos) in commit order. Returns one
    * latency in ms per event of `chunks`; None for an event no batch
    * committed.
    */
  def fromDue(chunks: Seq[Chunk], due: Int => Long,
      batches: Seq[(Long, Long)]): Seq[Option[Double]] = {
    val sorted = batches.sortBy(_._1)
    chunks.flatMap { c =>
      val commit = sorted.find(_._1 >= c.offset).map(_._2)
      (c.first until c.end).map(i => commit.map(t => (t - due(i)) / 1e6))
    }
  }
}

/** The per-job floor fit over the survey's 215 queries: request wall not
  * spent on the tasks' critical path (wall minus each job's
  * [[JobTiming.computeMs]]) regressed on the request's job count by least
  * squares, `a + b·jobs`. `a` is the per-request cost, `b` the per-job
  * floor. Task time is measured and taken out before the fit rather than
  * fitted, so a query whose task time grows with its job count does not
  * bend `b`.
  */
object FloorFit {
  final case class Fit(perRequestMs: Double, perJobMs: Double)

  /** rows: (wall ms off the tasks' critical path, jobs). NaN when every row has the
    * same job count.
    */
  def fit(rows: Seq[(Double, Double)]): Fit = {
    val ys = rows.map(_._1)
    val xs = rows.map(_._2)
    val (mx, my) = (Stats.mean(xs), Stats.mean(ys))
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val b = if (sxx > 1e-9) sxy / sxx else Double.NaN
    Fit(my - b * mx, b)
  }
}
