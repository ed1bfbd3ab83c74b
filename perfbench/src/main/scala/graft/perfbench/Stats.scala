package graft.perfbench

import scala.collection.mutable

/** Everything one run measures while `measuring` is on. */
final class Recorder {
  @volatile var measuring = false
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var changeRows = 0L
  var changeBytes = 0L
  var loaderNanos = 0L
  var filesScanned = 0L
  var liveFiles = 0L

  def sample(name: String, seconds: Double): Unit =
    if (measuring) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds

  /** One operation (cycle, hop or read): counted, and failed if it throws. */
  def op[A](body: => A): A = {
    if (measuring) attempted += 1
    try body
    catch {
      case e: Throwable =>
        if (measuring) failed += 1
        throw e
    }
  }

  /** A correctness check: any mismatch fails the enclosing operation. */
  def check(mismatches: Seq[String]): Unit =
    if (mismatches.nonEmpty) {
      failures ++= mismatches.take(20)
      throw new Mismatch(mismatches)
    }
}

final class Mismatch(ms: Seq[String])
  extends RuntimeException(s"${ms.size} mismatch(es): ${ms.take(5).mkString("; ")}")

object Stats {
  def seconds(nanos: Long): Double = nanos / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: (value, percentile, sample count). With fewer than
    * 21 samples that is the median itself.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, 0.0, 0)
    else {
      val i = n - 11
      if (i < n / 2) (median(s), 50.0, n)
      else (s(i), 100.0 * (i + 1) / n, n)
    }
  }

  /** Minimal JSON rendering of maps, sequences, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${json(k.toString)}: ${json(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }
}
