package enginebench

/** Latency summaries. A tail is the highest percentile that still has
  * at least [[Stats.TailBeyond]] samples beyond it: the value with
  * exactly ten larger samples, reported with its percentile and the
  * sample count so a reader knows how much it rests on.
  */
object Stats {
  val TailBeyond = 10

  final case class Tail(value: Double, pct: Double, n: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** None below 11 samples: no percentile has ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[Tail] =
    if (xs.size <= TailBeyond) None
    else {
      val s = xs.sorted
      val k = s.size - 1 - TailBeyond
      Some(Tail(s(k), 100.0 * (k + 1) / s.size, s.size))
    }
}

/** Thread-safe latency samples in milliseconds, per class. */
final class Samples {
  private val m = scala.collection.mutable.Map.empty[String,
    scala.collection.mutable.ArrayBuffer[Double]]
  def add(cls: String, ms: Double): Unit = synchronized {
    m.getOrElseUpdate(cls, scala.collection.mutable.ArrayBuffer.empty) += ms
  }
  def of(cls: String): Seq[Double] = synchronized(m.get(cls).map(_.toSeq).getOrElse(Nil))
  def all: Seq[Double] = synchronized(m.valuesIterator.flatten.toSeq)
  def classes: Seq[String] = synchronized(m.keys.toSeq.sorted)
  def count: Int = synchronized(m.valuesIterator.map(_.size).sum)
}

/** Open-loop schedule: request k is due at `start + k * interval`,
  * whatever happened to earlier requests. Latency is measured from the
  * due time, so a stall is charged to every request it delayed, and
  * lag (send time minus due time) shows how late the generator ran.
  */
final class OpenLoop(startNanos: Long, intervalNanos: Long) {
  def due(k: Long): Long = startNanos + k * intervalNanos
  /** (latency from due, generator lag), both in ms. */
  def account(k: Long, sentNanos: Long, doneNanos: Long): (Double, Double) =
    ((doneNanos - due(k)) / 1e6, math.max(0L, sentNanos - due(k)) / 1e6)
  /** Sleep until request k is due (returns at once when late). */
  def await(k: Long, nanoTime: () => Long = () => System.nanoTime()): Unit = {
    var left = due(k) - nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = due(k) - nanoTime()
    }
  }
}
