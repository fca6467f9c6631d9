package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One completed operation: its name, wall seconds, and whether it ran
  * with the trace listeners attached. */
final case class Sample(name: String, seconds: Double, traced: Boolean)

/** One operation that threw: counted as attempted, never timed. */
final case class Failed(name: String, exceptionClass: String, message: String)

/**
 * The closed loop's bookkeeping: one caller runs one operation at a time.
 * A returning operation adds a [[Sample]]; a throwing one adds a [[Failed]]
 * with its exception class and contributes no latency sample, so a query
 * that breaks early can never read as a fast one.
 */
final class OpLoop {
  val samples: ArrayBuffer[Sample] = ArrayBuffer.empty
  val failed: ArrayBuffer[Failed] = ArrayBuffer.empty

  def attempted: Int = samples.size + failed.size

  /** Run `op` once, timing it only if it returns. True iff it returned. */
  def attempt(name: String, traced: Boolean = false)(op: => Unit): Boolean = {
    val t0 = System.nanoTime()
    try {
      op
      samples += Sample(name, (System.nanoTime() - t0) / 1e9, traced)
      true
    } catch {
      case NonFatal(e) =>
        failed += Failed(name, e.getClass.getName,
          String.valueOf(e.getMessage).take(300))
        false
    }
  }
}
