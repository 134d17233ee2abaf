package perfbench

import scala.collection.mutable.ArrayBuffer

/** Checks of the harness's own JVM-side logic, with fake clocks and fake
  * stream attempts (no Spark). Run by perfbench/tests/test_harness.py;
  * prints "selftest ok" and exits 0, or throws. */
object SelfTest {
  def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  /** Open-loop stamping: the schedule is anchored when the producer
    * starts, ticks are due at fixed steps whatever the sender does, and
    * lateness is measured from each tick's due time. */
  def openLoop(): Unit = {
    var clock = 5000000000L // producer starts 5 s into the run
    val s = OpenLoop.start(2000, 10, () => clock)
    check(s.anchorNs == 5000000000L, "schedule anchored at producer start")
    check(s.perTick == 20 && s.tickNs == 10000000L, "20 messages per 10 ms tick")
    check(s.ticksIn(1000000000L) == 100, "100 ticks in one second")
    val sent = ArrayBuffer.empty[(Long, Long)]
    val late = OpenLoop.run(s, 50000000L,
      send = (tick, due) => {
        sent += ((tick, due))
        // tick 1's send stalls 25 ms: ticks 2 and 3 go out late
        clock += (if (tick == 1) 25000000L else 1000000L)
      },
      now = () => clock,
      sleepUntil = due => if (clock < due) clock = due)
    check(sent.map(_._2) == (0 until 5).map(k => 5000000000L + k * 10000000L),
      s"due times follow the schedule, not the sender: $sent")
    check(late.toSeq == Seq(0L, 0L, 15000000L, 6000000L, 0L),
      s"lateness measured from due time: ${late.toSeq}")
  }

  class FakeAttempt(failAfterPolls: Option[Int]) extends Attempt {
    var polls = 0
    var stopped = false
    def isActive: Boolean = !stopped && failAfterPolls.forall(polls < _)
    def exception: Option[Throwable] =
      if (failAfterPolls.exists(polls >= _))
        Some(new RuntimeException("batch failed", new NullPointerException("meta")))
      else None
    def await(ms: Long): Boolean = { polls += 1; !isActive }
    def stop(): Unit = stopped = true
  }

  /** Supervisor: each crash is counted once, with its root cause, and a
    * new attempt is started until the work is done. */
  def supervisor(): Unit = {
    val plan = Iterator(Some(2), Some(1), Some(3), None)
    val made = ArrayBuffer.empty[FakeAttempt]
    val sup = new Supervisor(() => { val a = new FakeAttempt(plan.next()); made += a; a })
    var checks = 0
    val ok = sup.runUntil(() => { checks += 1; checks > 12 },
      System.nanoTime() + 10000000000L, pollMs = 0)
    check(ok, "finished before the deadline")
    check(sup.restarts == 3 && sup.attempts == 4, s"3 crashes, 4 attempts: ${sup.restarts}/${sup.attempts}")
    check(sup.crashes.forall(_._1 == "java.lang.NullPointerException"),
      s"root cause recorded: ${sup.crashes}")
    check(made.last.stopped, "live attempt stopped at the end")

    // a stream that stops without an error ends supervision
    val quiet = new Supervisor(() => new FakeAttempt(None) { override def isActive = false })
    check(!quiet.runUntil(() => false, System.nanoTime() + 1000000000L, pollMs = 0) &&
      quiet.restarts == 0, "clean stop is not a crash")
  }

  def main(args: Array[String]): Unit = {
    openLoop()
    supervisor()
    println("selftest ok")
  }
}
