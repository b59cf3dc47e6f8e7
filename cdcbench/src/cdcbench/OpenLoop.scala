package cdcbench

import java.util.concurrent.locks.LockSupport

/** Time source of the open-loop generators; the self-test substitutes a
  * fake to check the due-time → publish-time mapping without sleeping. */
trait Clock {
  def nanoTime(): Long
  def sleepUntil(deadlineNs: Long): Unit
}

object SystemClock extends Clock {
  def nanoTime(): Long = System.nanoTime()
  def sleepUntil(deadlineNs: Long): Unit = {
    var left = deadlineNs - System.nanoTime()
    while (left > 0) {
      LockSupport.parkNanos(left)
      left = deadlineNs - System.nanoTime()
    }
  }
}

/** Fixed-rate schedule: item `i` is due at `startNs + i / rate`, whatever
  * happened to the items before it. A stall therefore makes later items
  * late; it never shifts the schedule (which would hide the stall). */
final case class Schedule(startNs: Long, ratePerSec: Double) {
  require(ratePerSec > 0, "rate must be positive")
  def dueNs(i: Long): Long = startNs + math.round(i * 1e9 / ratePerSec)
}

/** One item handed to the system: when it was due and when it went out. */
final case class Published(seq: Long, dueNs: Long, publishNs: Long) {
  def lateNs: Long = publishNs - dueNs
}

object OpenLoop {

  /** Publish items `0 until n` on `sched`, stopping early when `stop()`
    * turns true. `publish(seq, dueNs)` hands one item over; the returned
    * records carry each item's due and actual publish time, so latency
    * can be measured from the due time and the generator's own lateness
    * reported. */
  def run(clock: Clock, sched: Schedule, n: Long, stop: () => Boolean)(
      publish: (Long, Long) => Unit): Vector[Published] = {
    val out = Vector.newBuilder[Published]
    var i = 0L
    while (i < n && !stop()) {
      val due = sched.dueNs(i)
      clock.sleepUntil(due)
      val now = clock.nanoTime()
      publish(i, due)
      out += Published(i, due, now)
      i += 1
    }
    out.result()
  }
}
