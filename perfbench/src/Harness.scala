package perfbench

/** The closed-loop op runner shared by every workload.
  *
  * One driver thread issues the next op only after the previous one has
  * returned and its output has been checked, because a pipeline caller waits
  * for its result. An op that throws, or whose output check fails, counts as
  * attempted and failed; its elapsed time is dropped, so a broken op can
  * never read as a fast one.
  */
object Harness {

  /** What one attempted op came to: `Right(seconds)` or `Left(cause)`. */
  type Attempt = Either[String, Double]

  /** Times `op`, then runs `check` outside the timing. */
  def attempt(op: () => Unit, check: () => Option[String]): Attempt = {
    val t0 = System.nanoTime()
    val ran = try { op(); None } catch { case t: Throwable => Some(describe(t)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    ran match {
      case Some(cause) => Left(cause)
      case None =>
        try check() match {
          case None => Right(seconds)
          case Some(why) => Left("output check failed: " + why)
        } catch { case t: Throwable => Left("output check threw: " + describe(t)) }
    }
  }

  def describe(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = s"${root.getClass.getSimpleName}: ${root.getMessage}"
    msg.replaceAll("\\s+", " ").take(300)
  }

  /** Accumulated outcome of a run: op times and failure causes. */
  final class Tally {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def attempted: Int = times.size + failures.size
    /** Share of attempted ops that succeeded. */
    def okRatio: Double = times.size.toDouble / attempted
    def add(a: Attempt): Attempt = {
      a.fold(failures += _, times += _)
      a
    }
  }

  /** Runs `round` `rounds` times, stopping early only once `limitS`
    * seconds have passed since `t0`; it runs at least one round. Returns the
    * number of rounds run. */
  def closedLoop(rounds: Int, limitS: Double, t0: Long)(round: () => Unit): Int = {
    var n = 0
    while (n < rounds && (n == 0 || (System.nanoTime() - t0) / 1e9 < limitS)) {
      round()
      n += 1
    }
    n
  }

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Mean of the last third of a series over the mean of its first third. */
  def driftRatio(xs: Seq[Double]): Double =
    if (xs.size < 2) 1.0
    else {
      val k = math.max(1, xs.size / 3)
      (xs.takeRight(k).sum / k) / (xs.take(k).sum / k)
    }
}
