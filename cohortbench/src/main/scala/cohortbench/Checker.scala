package cohortbench

import scala.collection.mutable.ArrayBuffer

/** Output checks. Each check compares a program output with an answer the
  * benchmark derived from its own generated inputs.
  *
  * With `perturb` set, every check is run against a deliberately wrong
  * expectation instead (a count off by one, a record dropped from an
  * expected set, a score shifted past its tolerance, a bound raised past
  * what is reachable, a tampered audit row), and the run prints whether
  * each check rejected it: a check that accepts its perturbed expectation
  * cannot fail.
  */
final class Checker(val perturb: Boolean) {
  private val results = ArrayBuffer[(String, Boolean, String)]()

  private def record(name: String, ok: Boolean, detail: => String): Unit = {
    val d = if (ok) "" else detail
    results += ((name, ok, d))
    if (!ok && !perturb) System.err.println(s"[cohortbench] CHECK FAILED $name: $d")
  }

  def eqLong(name: String, expected: Long, actual: Long): Unit = {
    val e = if (perturb) expected + 1 else expected
    record(name, e == actual, s"expected $e, got $actual")
  }

  /** Keyed counts, e.g. per (batch, chrom). */
  def eqCounts[K](name: String, expected: Map[K, Long], actual: Map[K, Long]): Unit = {
    val e =
      if (perturb && expected.nonEmpty) {
        val (k, v) = expected.head
        expected.updated(k, v + 1)
      } else expected
    val diff = (e.keySet ++ actual.keySet).filter(k => e.get(k) != actual.get(k))
    record(name, diff.isEmpty,
      diff.take(5).map(k => s"$k: expected ${e.get(k)}, got ${actual.get(k)}").mkString("; "))
  }

  /** Multiset equality of rendered records. */
  def eqBag(name: String, expected: Seq[String], actual: Seq[String]): Unit = {
    val e = if (perturb) expected.drop(1) :+ "<perturbed>" else expected
    val (es, as) = (e.sorted, actual.sorted)
    record(name, es == as, {
      val missing = es.diff(as).take(3)
      val extra = as.diff(es).take(3)
      s"${es.size} expected, ${as.size} returned; missing ${missing.mkString(",")}; " +
        s"unexpected ${extra.mkString(",")}"
    })
  }

  /** Multiset equality of numbers within an absolute-or-relative tolerance. */
  def closeBag(name: String, expected: Seq[Double], actual: Seq[Double],
               tol: Double): Unit = {
    val e0 = expected.sorted
    val e = if (perturb && e0.nonEmpty) e0.updated(0, e0.head + 10 * tol * math.max(1.0, math.abs(e0.head))) else e0
    val a = actual.sorted
    val bad = if (e.size != a.size) -1
      else e.zip(a).indexWhere { case (x, y) => math.abs(x - y) > tol * math.max(1.0, math.abs(x)) }
    record(name, e.size == a.size && bad < 0,
      if (e.size != a.size) s"${e.size} expected values, ${a.size} returned"
      else s"value ${e(bad)} expected, ${a(bad)} returned (tolerance $tol)")
  }

  def atLeast(name: String, bound: Double, actual: Double): Unit = {
    val b = if (perturb) math.max(bound, actual) + 1e-6 else bound
    record(name, actual >= b, s"$actual is below the bound $b")
  }

  /** A property whose perturbed form is supplied by the caller: `ok` is
    * evaluated on the real expectation, `okPerturbed` on the perturbed one. */
  def holds(name: String, ok: => Boolean, okPerturbed: => Boolean, detail: => String): Unit =
    record(name, if (perturb) okPerturbed else ok, detail)

  def allPassed: Boolean = results.forall(_._2)
  def count: Int = results.size
  def summary: Seq[(String, Boolean, String)] = results.toSeq
}
