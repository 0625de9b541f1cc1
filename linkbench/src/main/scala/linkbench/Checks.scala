package linkbench

import scala.collection.mutable.ArrayBuffer

/** Tally of timed calls and their failures. A call fails when it throws
  * or when any check on its output fails; it counts once however many of
  * its checks fail.
  */
final class Checks {
  private var current = "setup"
  private var currentFailed = false
  private var attemptedCalls = 0L
  private var failedCalls = 0L
  val failures: ArrayBuffer[String] = ArrayBuffer[String]()

  def attempted: Long = attemptedCalls
  def failed: Long = failedCalls

  /** Starts accounting for the next call. */
  def begin(call: String): Unit = {
    current = call
    currentFailed = false
    attemptedCalls += 1
  }

  /** Marks the current call failed; `problem` says why. */
  def fail(problem: String): Unit = {
    if (!currentFailed) { currentFailed = true; failedCalls += 1 }
    if (failures.length < 50) failures += s"$current: $problem"
  }

  /** Fails the current call when a comparison reports a mismatch. */
  def expect(mismatch: Option[String]): Unit = mismatch.foreach(fail)
}

/** Comparisons of engine output against reference answers. Each returns
  * None when the output is right, or a description of the first mismatch.
  */
object Compare {

  def equal[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Exact per-vertex values: `got` rows (id, value) against `want`,
    * indexed like `ids`. Every id must appear exactly once.
    */
  def exact(what: String, got: Array[(Long, Long)], ids: Array[Long],
            want: Array[Long]): Option[String] =
    perVertex(what, got, ids) { (i, v) =>
      if (v == want(i)) None else Some(s"id ${ids(i)} has $v, want ${want(i)}")
    }

  /** Per-vertex doubles within a relative tolerance (plus a tiny absolute
    * one, for values at zero).
    */
  def close(what: String, got: Array[(Long, Double)], ids: Array[Long],
            want: Array[Double], rtol: Double = 1e-6): Option[String] =
    perVertex(what, got, ids) { (i, v) =>
      if (math.abs(v - want(i)) <= rtol * math.abs(want(i)) + 1e-15) None
      else Some(s"id ${ids(i)} has $v, want ${want(i)}")
    }

  private def perVertex[V](what: String, got: Array[(Long, V)], ids: Array[Long])(
      check: (Int, V) => Option[String]): Option[String] = {
    if (got.length != ids.length)
      return Some(s"$what: ${got.length} rows, want ${ids.length}")
    val seen = new Array[Boolean](ids.length)
    got.iterator.map { case (id, v) =>
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i < 0) Some(s"$what: unknown id $id")
      else if (seen(i)) Some(s"$what: id $id twice")
      else { seen(i) = true; check(i, v).map(m => s"$what: $m") }
    }.collectFirst { case Some(m) => m }
  }
}
