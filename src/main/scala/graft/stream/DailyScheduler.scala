package graft.stream

import java.time.{Duration, Instant, ZoneOffset, ZonedDateTime}

/** The reference's daily scheduler
  * (`/root/reference/lakehouse_scheduler.py:64-78, 116-135`): fire at a
  * fixed UTC hour, at most once per `intervalHours`, and never before an
  * explicit first `markRan` (the reference seeds `last_run` at startup so
  * the 02:00 job doesn't double-fire with the startup run, `:147-151`).
  *
  * The decision predicate is a pure function of (now, lastRun) so it is
  * unit-testable without clocks; the driver loop is a trivial
  * sleep-check-run cycle around it. Spark-cluster deployments would kick
  * `Trigger.AvailableNow` runs from external cron instead (SURVEY.md
  * §2.10 T2) — this class exists for reference-parity of the standalone
  * mode.
  */
final class DailyScheduler(
    atHourUtc: Int = 2,
    intervalHours: Long = 24,
    /** The clock and sleep, injectable so the loop is testable
      * without waiting for a real scheduled hour.
      */
    clock: () => Instant = () => Instant.now(),
    sleepMs: Long => Unit = Thread.sleep) {
  @volatile private var lastRun: Option[Instant] = None
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def markRan(now: Instant = clock()): Unit = lastRun = Some(now)

  /** True when a scheduled run is due: we are in the scheduled hour AND
    * at least `intervalHours` passed since the last run. Never true
    * before the first markRan (reference `:71-72`).
    */
  def shouldRun(now: Instant = clock()): Boolean = lastRun match {
    case None => false
    case Some(last) =>
      val hour = ZonedDateTime.ofInstant(now, ZoneOffset.UTC).getHour
      hour == atHourUtc && Duration.between(last, now).toHours >= intervalHours
  }

  /** Blocking scheduler loop with the reference's error backoff
    * (300 s after failures, `lakehouse_scheduler.py:134-135`); checks
    * every `pollSeconds`. Runs until the thread is interrupted. A
    * failed job is logged with its exception and retried after the
    * backoff; a fatal error (VM error, linkage error) propagates.
    */
  def loop(pollSeconds: Int = 60, backoffSeconds: Int = 300)(job: () => Unit): Unit = {
    markRan() // seed: the caller just ran (or deliberately skipped) startup work
    try {
      while (!Thread.currentThread().isInterrupted) {
        if (shouldRun()) {
          try { job(); markRan() }
          catch {
            case scala.util.control.NonFatal(e) =>
              log.warn(s"scheduled job failed; retrying after ${backoffSeconds}s backoff", e)
              sleepMs(backoffSeconds * 1000L)
          }
        }
        sleepMs(pollSeconds * 1000L)
      }
    } catch { case _: InterruptedException => () }
  }
}
