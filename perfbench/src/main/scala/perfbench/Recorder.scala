package perfbench

import scala.collection.mutable

/** An op that threw or failed its output check. */
final case class Failure(op: String, error: String)

/** Thrown by an output check; the op counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
  def equal[A](what: String, got: A, want: A): Unit =
    apply(got == want, s"$what: got $got, want $want")
}

/**
 * Closed-loop op accounting. `op` times `body` as a root span; the check
 * runs after the clock stops. Only an op whose body returned AND whose
 * check passed contributes a latency sample; any other op is a failure,
 * listed by name, and still counts as attempted.
 */
final class Recorder(val trace: Trace, afterOp: () => Unit = () => ()) {
  var measuring = false
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[Failure] = mutable.ArrayBuffer.empty
  var attempted = 0
  private var seq = 0

  def failedFrac: Double =
    if (attempted == 0) 0.0 else failures.size.toDouble / attempted

  /** Runs one op; true when it succeeded. Warm-up ops (`measuring` off)
    * are run and checked but leave no trace in the counts. */
  def op[A](kind: String)(body: => A)(check: A => Unit): Boolean = {
    seq += 1
    val name = s"$kind#$seq"
    val t0 = System.nanoTime()
    var dt = Double.NaN
    val outcome =
      try {
        val a = trace.span(s"op.$kind")(body)
        dt = (System.nanoTime() - t0) / 1e9
        check(a)
        Right(dt)
      } catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString.take(300))
      } finally afterOp()
    System.err.println(f"[perfbench] $name%-16s $dt%.3f s" +
      outcome.left.map(e => s" FAILED $e").left.getOrElse(""))
    if (measuring) {
      attempted += 1
      outcome match {
        case Right(dt) =>
          samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
        case Left(err) => failures += Failure(name, err)
      }
    } else outcome.left.foreach(err =>
      System.err.println(s"[perfbench] warm-up op $name failed: $err"))
    outcome.isRight
  }
}
