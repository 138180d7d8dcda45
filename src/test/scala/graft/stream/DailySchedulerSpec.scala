package graft.stream

import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

class DailySchedulerSpec extends AnyFunSuite {

  private def at(iso: String) = Instant.parse(iso)

  test("never fires before first markRan") {
    val s = new DailyScheduler(atHourUtc = 2)
    assert(!s.shouldRun(at("2026-01-02T02:30:00Z")))
  }

  test("fires in the scheduled hour once interval elapsed") {
    val s = new DailyScheduler(atHourUtc = 2)
    s.markRan(at("2026-01-01T02:10:00Z"))
    assert(!s.shouldRun(at("2026-01-01T23:00:00Z"))) // wrong hour
    assert(!s.shouldRun(at("2026-01-02T01:59:00Z"))) // right-ish but hour 1
    assert(s.shouldRun(at("2026-01-02T02:15:00Z"))) // 24h+ later, hour 2
  }

  test("does not double-fire within the interval") {
    val s = new DailyScheduler(atHourUtc = 2)
    s.markRan(at("2026-01-02T02:15:00Z"))
    assert(!s.shouldRun(at("2026-01-02T02:45:00Z")))
    assert(s.shouldRun(at("2026-01-03T02:45:00Z")))
  }

  test("custom hour and interval are honored") {
    val s = new DailyScheduler(atHourUtc = 14, intervalHours = 12)
    s.markRan(at("2026-01-01T02:00:00Z"))
    assert(s.shouldRun(at("2026-01-01T14:05:00Z")))
    assert(!s.shouldRun(at("2026-01-01T13:59:00Z")))
  }

  /** A scheduler whose clock sits in its own scheduled hour with a zero
    * interval, so every poll fires the job; sleeps are recorded, not
    * slept.
    */
  private def firing(sleeps: scala.collection.mutable.Buffer[Long]) =
    new DailyScheduler(atHourUtc = 2, intervalHours = 0,
      clock = () => at("2026-01-02T02:30:00Z"), sleepMs = ms => sleeps += ms)

  test("a failing job is logged with its exception and retried after the backoff") {
    val logger = LogManager.getLogger(classOf[DailyScheduler]).asInstanceOf[CoreLogger]
    val events = scala.collection.mutable.ArrayBuffer.empty[LogEvent]
    val capture = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.synchronized(events += e.toImmutable)
    }
    capture.start()
    val prevLevel = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    try {
      firing(sleeps).loop(pollSeconds = 1, backoffSeconds = 7) { () =>
        calls += 1
        if (calls == 1) throw new RuntimeException("boom")
        Thread.currentThread().interrupt() // the retry succeeds; stop the loop
      }
    } finally {
      Thread.interrupted()
      logger.removeAppender(capture)
      logger.setLevel(prevLevel)
      capture.stop()
    }
    assert(calls == 2, "the failed job must be retried")
    assert(sleeps.take(2) == Seq(7000L, 1000L), "backoff, then the poll interval")
    val logged = events.filter(e => Option(e.getThrown).exists(_.getMessage == "boom"))
    assert(logged.size == 1, s"expected the failure logged with its exception, got $events")
    assert(logged.head.getLevel == Level.WARN)
  }

  test("a fatal error escapes the loop") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val e = intercept[InternalError] {
      firing(sleeps).loop() { () => throw new InternalError("fatal") }
    }
    assert(e.getMessage == "fatal")
    assert(sleeps.isEmpty, "no backoff for a fatal error")
  }
}
