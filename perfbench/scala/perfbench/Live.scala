package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQuery

/** Open-loop send schedule: tick `k` is due `k * tickNs` after the
  * anchor, whatever happened to earlier ticks. The anchor is taken when
  * the producer starts, not when the stream was built, so stream
  * warm-up is never counted as lateness. */
final case class OpenLoop(anchorNs: Long, tickNs: Long, perTick: Int) {
  def dueNs(tick: Long): Long = anchorNs + tick * tickNs
  /** Ticks whose due time falls inside `[anchor, anchor + windowNs)`. */
  def ticksIn(windowNs: Long): Long = (windowNs + tickNs - 1) / tickNs
}

object OpenLoop {
  /** A schedule anchored now, at `ratePerSec` messages per second sent
    * in ticks of `tickMs`. */
  def start(ratePerSec: Int, tickMs: Int, now: () => Long = () => System.nanoTime())
      : OpenLoop = {
    require(ratePerSec * tickMs % 1000 == 0, "rate must fill whole ticks")
    OpenLoop(now(), tickMs * 1000000L, ratePerSec * tickMs / 1000)
  }

  /** Run the schedule: wait for each tick's due time (never skipping a
    * tick that is already late), call `send(tick, dueNs)`, and return
    * each tick's lateness in ns. */
  def run(s: OpenLoop, windowNs: Long, send: (Long, Long) => Unit,
      now: () => Long = () => System.nanoTime(),
      sleepUntil: Long => Unit = Producer.sleepUntil): Array[Long] = {
    val n = s.ticksIn(windowNs)
    val late = new Array[Long](n.toInt)
    var k = 0L
    while (k < n) {
      val due = s.dueNs(k)
      sleepUntil(due)
      late(k.toInt) = math.max(0L, now() - due)
      send(k, due)
      k += 1
    }
    late
  }
}

object Producer {
  def sleepUntil(ns: Long): Unit = {
    var left = ns - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = ns - System.nanoTime()
    }
  }
}

/** One run of a streaming query, as the supervisor sees it. */
trait Attempt {
  def isActive: Boolean
  def exception: Option[Throwable]
  /** Wait up to `ms` for termination; true when it terminated. */
  def await(ms: Long): Boolean
  def stop(): Unit
}

object Attempt {
  def of(q: StreamingQuery): Attempt = new Attempt {
    def isActive: Boolean = q.isActive
    def exception: Option[Throwable] = q.exception
    // a failed query rethrows its error from awaitTermination; the
    // supervisor reads it from `exception` instead
    def await(ms: Long): Boolean =
      try q.awaitTermination(ms)
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    def stop(): Unit = q.stop()
  }
}

/** Keeps a stream running: when an attempt terminates with an error it
  * records the crash (exception class and top frame of the root cause)
  * and starts a new attempt, which resumes from the same checkpoint. */
final class Supervisor(start: () => Attempt) {
  val crashes = ArrayBuffer.empty[(String, String)]
  def restarts: Int = crashes.size
  var attempts = 0

  /** Run until `done()` holds or `deadlineNs` passes; stops the live
    * attempt before returning. False when the deadline hit first. */
  def runUntil(done: () => Boolean, deadlineNs: Long,
      pollMs: Long = 20): Boolean = {
    var cur = launch()
    try {
      while (!done()) {
        if (System.nanoTime() > deadlineNs) return false
        if (cur.await(pollMs) || !cur.isActive) {
          cur.exception match {
            case Some(e) =>
              crashes += Supervisor.describe(e)
              cur = launch()
            case None =>
              // stopped without an error: nothing more will arrive
              return done()
          }
        }
      }
      true
    } finally cur.stop()
  }

  private def launch(): Attempt = { attempts += 1; start() }
}

object Supervisor {
  /** (root-cause class, its top stack frame) of a stream failure. */
  def describe(e: Throwable): (String, String) = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val top = c.getStackTrace.headOption
      .map(f => s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")
      .getOrElse("?")
    (c.getClass.getName, top)
  }
}
