package graft

import graft.sources.ConcurrentWriteException

/** Run a write surgery with optimistic-conflict retries — the caller
  * loop the OCC protocol assumes (Delta's retry-on-
  * ConcurrentModification): each attempt re-plans against the CURRENT
  * version, so a retry never republishes stale staging; any other
  * failure propagates untouched. No backoff: a conflict means the
  * rival has already committed, so the re-plan starts from its version.
  */
object ConflictRetry {
  def withConflictRetry[T](attempts: Int = 3)(body: => T): T = {
    require(attempts >= 1, s"attempts=$attempts")
    try body
    catch {
      case _: ConcurrentWriteException if attempts > 1 =>
        withConflictRetry(attempts - 1)(body)
    }
  }
}
