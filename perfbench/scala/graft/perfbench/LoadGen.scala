package graft.perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

/** Open-loop request generator on the calling thread: request `i` is due
  * at `start + i / rate`, is sent when due (or at once, if the generator
  * is behind), and is timed from when it was due. */
final class OpenLoop(rate: Double) {
  val latency = ArrayBuffer.empty[Long]  // ns, due -> done
  val late = ArrayBuffer.empty[Long]     // ns, due -> sent
  var startNs = 0L
  var lastDoneNs = 0L

  def run(seconds: Double, stop: => Boolean = false)(op: Long => Unit): this.type = {
    val period = 1e9 / rate
    startNs = System.nanoTime()
    var i = 0L
    var due = startNs
    while (due - startNs < seconds * 1e9 && !stop) {
      var now = System.nanoTime()
      while (now < due) {
        if (due - now > 80000L) LockSupport.parkNanos(due - now - 60000L)
        else Thread.onSpinWait()
        now = System.nanoTime()
      }
      op(i)
      lastDoneNs = System.nanoTime()
      latency += lastDoneNs - due
      late += now - due
      i += 1
      due = startNs + (i * period).toLong
    }
    this
  }

  /** Requests completed per second of the step. */
  def achieved: Double =
    if (latency.isEmpty) 0.0 else latency.size / ((lastDoneNs - startNs) / 1e9)

  /** The generator fell further behind over the step: mean lateness of the
    * last tenth exceeds that of the first tenth by more than 1 ms. */
  def growingLag: Boolean = {
    val n = late.size / 10
    n > 0 && (late.takeRight(n).sum - late.take(n).sum) / n > 1000000L
  }
}
