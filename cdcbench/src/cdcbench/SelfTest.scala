package cdcbench

/** Checks of the open-loop generator against a fake clock: due times
  * follow the schedule whatever the generator does, a stall makes the
  * following items late by exactly the stall, and the generator then
  * catches up without shifting the schedule. Run by `tests/test_openloop.py`
  * as `java -cp <classpath> cdcbench.SelfTest`; exits non-zero on a failure. */
object SelfTest {

  final class FakeClock extends Clock {
    var now = 0L
    def nanoTime(): Long = now
    def sleepUntil(deadlineNs: Long): Unit = if (deadlineNs > now) now = deadlineNs
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val ms = 1000000L
    val sched = Schedule(startNs = 1000L, ratePerSec = 100.0) // one item per 10 ms
    val clock = new FakeClock
    // handing over item 3 stalls the generator for 45 ms
    val out = OpenLoop.run(clock, sched, 10, () => false) { (i, _) => if (i == 3) clock.now += 45 * ms }
    check(out.map(_.dueNs) == (0 until 10).map(i => 1000L + i * 10 * ms), "due times follow the schedule")
    check(out.take(4).forall(_.lateNs == 0), "items before the stall are on time")
    check(out.slice(4, 8).map(_.lateNs) == Seq(35, 25, 15, 5).map(_ * ms), "items due during the stall are late by the remaining stall")
    check(out.drop(8).forall(_.lateNs == 0), "after the stall the generator is back on schedule")

    var handed = 0
    val stopped = OpenLoop.run(new FakeClock, sched, 10, () => handed >= 3) { (_, _) => handed += 1 }
    check(stopped.size == 3, "the stop condition ends the loop")

    check(Schedule(0L, 3.0).dueNs(1) == 333333333L && Schedule(0L, 3.0).dueNs(2) == 666666667L,
      "fractional periods round to the nearest nanosecond")
    println("SelfTest ok")
  }
}
