package graft.operators

import java.time.Instant
import java.time.temporal.ChronoUnit

/** Rule-cadence arithmetic, mirroring the reference scheduler's
  * `calculate_next_run` (reference backend/app/core/scheduler.py:140-150):
  * HOURLY → +1h, WEEKLY → +7d, DAILY and anything unrecognized → +1d.
  *
  * All times are ISO-8601 instant strings — the engine takes "now" from the
  * caller (like `refreshedAt` everywhere else) so scheduling is reproducible
  * and testable; nothing here reads the wall clock.
  *
  * Documented deviation: the reference arms each rule once at startup
  * (`init_scheduler` sets `next_run_at = now`) and `execute_rule` updates
  * only `last_run_at` — the job is never re-armed, so cadence exists in
  * `calculate_next_run` but is unreachable (scheduler.py:62-133). We
  * implement the evident intent: [[SegmentRunner.runDue]] re-arms
  * `nextRunAt = calculateNextRun(schedule, now)` after every scheduled run.
  * The reference-parity runner's `runDue(now)` reproduces the reference's
  * never-re-arm behavior exactly (the rule stays due and re-runs every
  * tick once its arm time passes).
  */
object Schedule {
  val Hourly = "HOURLY"
  val Daily  = "DAILY"
  val Weekly = "WEEKLY"

  def calculateNextRun(schedule: String, now: String): String =
    calculateNextRun(schedule, Instant.parse(now)).toString

  def calculateNextRun(schedule: String, now: Instant): Instant =
    normalize(schedule) match {
      case Hourly => now.plus(1, ChronoUnit.HOURS)
      case Weekly => now.plus(7, ChronoUnit.DAYS)
      case _      => now.plus(1, ChronoUnit.DAYS) // DAILY + unrecognized
    }

  private def normalize(schedule: String): String =
    Option(schedule).map(_.trim.toUpperCase).getOrElse(Daily)

  /** A rule is due when it has never been armed (reference init: missing or
    * past `next_run_at` snaps to now) or its arm time has arrived.
    */
  def isDue(nextRunAt: Option[String], now: String): Boolean =
    nextRunAt.forall(t => !Instant.parse(t).isAfter(Instant.parse(now)))
}
