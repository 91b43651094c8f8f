package perfbench

import scala.collection.mutable

/** Counts attempted and failed operations. An operation is one timed call
  * into the program whose output is then checked. A failed check fails
  * the operation; it also makes the run incorrect unless every problem it
  * found is a known fault the benchmark keeps on purpose: `known(op,
  * problem)` (see README). */
final class Ops(known: (String, String) => Boolean) {
  var attempted = 0L
  var failed = 0L
  var correct = true
  /** Timings by name, in milliseconds, in call order. */
  val ms = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def record(name: String, v: Double): Unit = ms.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def samples(name: String): Seq[Double] = ms.getOrElse(name, mutable.ArrayBuffer()).toSeq

  /** Time `call`, record it under `name`, then check its result. */
  def run[T](name: String, spans: Spans, round: Int)(call: => T)(check: T => Seq[String]): T = {
    attempted += 1
    val t = System.nanoTime()
    val out = spans(name, round)(call)
    record(name, (System.nanoTime() - t) / 1e6)
    val problems = try check(out) catch { case e: Throwable => Seq(s"check threw $e") }
    if (problems.nonEmpty) {
      failed += 1
      if (!problems.forall(known(name, _))) correct = false
      System.err.println(s"[perfbench] FAILED $name (round $round): ${problems.take(5).mkString("; ")}")
    }
    out
  }
}

object Check {
  private def brief(x: Any): String = { val s = String.valueOf(x); if (s.length > 200) s.take(200) + "..." else s }
  def eq[A](what: String, got: A, want: A): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got ${brief(got)}, want ${brief(want)}")
  def near(what: String, got: Double, want: Double, tol: Double): Seq[String] =
    if (math.abs(got - want) <= tol * math.max(1.0, math.abs(want))) Nil
    else Seq(s"$what: got $got, want $want")
}
