package cpubench

/** Summary rules shared by every workload. */
object Stats {

  /** Median of the values (mean of the two middle ones for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Time `f` in seconds of wall clock. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Operations attempted and those whose outcome differed from the expected
  * one (a wrong run state, archive, ledger count, panel value or checksum,
  * or a throw).
  */
final class Tally {
  private var attempted0 = 0L
  private var failed0 = 0L
  private val notes = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Record one operation; `problems` lists how its outcome was wrong. */
  def record(problems: Seq[String]): Unit = {
    attempted0 += 1
    if (problems.nonEmpty) { failed0 += 1; notes ++= problems.take(5) }
  }

  def attempted: Long = attempted0
  def failed: Long = failed0
  def problems: Seq[String] = notes.toSeq
}

object Tally {
  /** A mismatch message when `actual != expected`, else nothing. */
  def expect[A](what: String, actual: A, expected: A): Seq[String] =
    if (actual == expected) Nil else Seq(s"$what: got $actual, expected $expected")
}
