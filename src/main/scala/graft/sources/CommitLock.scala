package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Advisory exclusive lock over a filesystem path — the multi-writer
  * mutual-exclusion primitive [[graft.sinks.IdempotentFileSink]],
  * [[IncrementalLedger]] and [[FileManifest]] commit through. Built on
  * the one atomic filesystem verb every Hadoop FileSystem guarantees:
  * `create(path, overwrite = false)` either creates the file or throws
  * because it already exists — two racing writers cannot both succeed.
  * (HDFS and local FS honor this atomically; object stores without
  * atomic create — bare S3 — need their own coordination layer, the
  * same caveat Delta's LogStore documents.)
  *
  * Crash safety: a writer that dies holding the lock leaves the file
  * behind. Waiters treat a lock older than `staleMs` (by filesystem
  * modification time) as abandoned, break it, and re-race — so a
  * crashed writer delays rivals by at most the staleness window instead
  * of deadlocking the root forever. `staleMs` must exceed the longest
  * legitimate critical section; commit sections here are
  * metadata-sized (rename + small writes), not data jobs, except the
  * ledger's whole-run lock, whose callers size `staleMs` to their run
  * budget.
  */
private[graft] object CommitLock {

  /** In-process tier: `create(path, overwrite=false)` is atomic on HDFS
    * but CHECK-THEN-ACT on the local filesystem (RawLocalFileSystem
    * probes exists() before creating), so two threads of one JVM could
    * both "win" it. A per-path JVM mutex closes that window exactly;
    * the lock FILE remains the cross-process tier, with HDFS-grade
    * atomicity where the filesystem provides it.
    *
    * Entries are REFCOUNTED and removed when the last holder/waiter
    * releases: a streaming sink takes a distinct lock path per batch id,
    * so a map that only ever grew would leak one mutex per micro-batch
    * for the driver's lifetime. Both the increment and the
    * decrement-and-maybe-remove run inside `compute` (atomic per key),
    * so a ref can never attach to an entry another thread is removing.
    */
  private final class JvmLock {
    val lock = new java.util.concurrent.locks.ReentrantLock()
    var refs = 0
  }
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, JvmLock]()

  private def acquireJvm(key: String): JvmLock =
    jvmLocks.compute(key, (_, v) => {
      val e = if (v == null) new JvmLock else v
      e.refs += 1
      e
    })

  private def releaseJvm(key: String): Unit =
    jvmLocks.compute(key, (_, v) => {
      v.refs -= 1
      if (v.refs == 0) null else v
    })

  /** Run `body` holding the exclusive lock at `path`: first the JVM
    * per-path mutex (same-process writers), then the lock file (rival
    * processes), both bounded by `waitMs` (50 ms polls). Breaks lock
    * files staler than `staleMs`; throws `java.io.IOException` on
    * timeout.
    *
    * Stale-break protocol: break by RENAME to a unique tombstone, never
    * by deleting the live path — a delete decided on a stale stat could
    * land on a FRESH lock a faster waiter just created (stat-then-delete
    * TOCTOU: both waiters would then enter the critical section). The
    * rename atomically claims one specific inode for one breaker; the
    * breaker re-verifies staleness ON THE TOMBSTONE (which no rival can
    * touch) and, if it turns out it grabbed a fresh lock in the
    * stat→rename gap, renames it straight back and keeps waiting.
    * Release is token-guarded: each holder writes a UUID into its lock
    * file and deletes only a file still carrying its own token, so a
    * holder whose lock was (correctly or mistakenly) broken can never
    * release a RIVAL's live lock — the violation never cascades.
    * Residual honesty: without an atomic compare-and-delete verb (no
    * Hadoop FS has one) a crashed-writer break with ≥3 concurrent
    * waiters retains a µs-scale window (steal → restore-fails) where
    * two waiters overlap; the token guard stops it propagating, and
    * the commit protocols above this lock (idempotent batch markers,
    * versioned ledger dirs, put-if-absent manifest versions) are
    * themselves safe against a second holder — last-writer-wins, or a
    * loud ConcurrentWriteException — so the exposure is wasted work,
    * not torn state.
    */
  def withLock[T](fs: FileSystem, path: Path,
      waitMs: Long = 60000L, staleMs: Long = 600000L)(body: => T): T = {
    val jl = acquireJvm(path.toString)
    // interruption (Spark stopping a streaming micro-batch thread mid-
    // wait) must release the refcount like every other exit, or the map
    // entry pins forever — the leak the refcount exists to prevent
    val locked =
      try jl.lock.tryLock(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch { case t: Throwable => releaseJvm(path.toString); throw t }
    if (!locked) {
      releaseJvm(path.toString)
      throw new java.io.IOException(
        s"timed out after ${waitMs}ms waiting for in-process commit lock $path")
    }
    val token = java.util.UUID.randomUUID().toString
    try {
      val deadline = System.currentTimeMillis() + waitMs
      var acquired = false
      while (!acquired) {
        try {
          val out = fs.create(path, false)
          out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.close()
          acquired = true
        } catch {
          case _: java.io.IOException =>
            // held by a rival process (or just broken): stale-break, wait
            try {
              val st = fs.getFileStatus(path)
              if (System.currentTimeMillis() - st.getModificationTime > staleMs) {
                val tomb = new Path(path.getParent,
                  s".${path.getName}.stale.${java.util.UUID.randomUUID().toString.take(8)}")
                if (fs.rename(path, tomb)) {
                  val got = fs.getFileStatus(tomb)
                  if (System.currentTimeMillis() - got.getModificationTime > staleMs)
                    fs.delete(tomb, false) // truly abandoned: broken
                  else if (!fs.rename(tomb, path))
                    // grabbed a fresh lock in the stat→rename gap and a
                    // third waiter already claimed the freed path: the
                    // stolen inode must not stay behind as a phantom
                    fs.delete(tomb, false)
                }
              }
            } catch { case _: java.io.FileNotFoundException => () }
            if (System.currentTimeMillis() > deadline)
              throw new java.io.IOException(
                s"timed out after ${waitMs}ms waiting for commit lock $path")
            Thread.sleep(50)
        }
      }
      // HEARTBEAT: a live holder must never be judged stale. The
      // stale-break protocol keys on the lock file's modification time,
      // so a critical section longer than staleMs (a ledger whole-run
      // lock over a long aggregation job) would get its live lock broken
      // by a healthy waiter — the one residual mutual-exclusion window
      // ADVICE flagged. A daemon thread refreshes the mtime every
      // staleMs/3 while the body runs; now staleness genuinely means
      // "holder stopped heartbeating" (crashed/hung), not "body was
      // slow", whatever staleMs a caller picked. Touching a path that
      // was broken out from under us is harmless: the file there is a
      // rival's LIVE lock, and freshening a live lock changes nothing.
      val hb = new Thread(() => {
        try {
          val interval = math.max(staleMs / 3, 50L)
          while (!Thread.currentThread().isInterrupted) {
            Thread.sleep(interval)
            try fs.setTimes(path, System.currentTimeMillis(), -1)
            catch { case _: java.io.IOException => () }
          }
        } catch { case _: InterruptedException => () }
      })
      hb.setDaemon(true)
      hb.setName(s"commitlock-heartbeat-${path.getName}")
      hb.start()
      try body
      finally {
        hb.interrupt()
        // release only OUR lock: if a breaker replaced it (we overran
        // staleMs, or the steal/restore corner hit), the file at `path`
        // is a RIVAL's live lock — deleting it blindly would let a
        // further waiter in and cascade the violation. Token mismatch →
        // leave it; the rightful owner (or the stale-break) cleans up.
        try {
          val in = fs.open(path)
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          in.close()
          if (n > 0 &&
              new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8) == token)
            fs.delete(path, false)
        } catch { case _: java.io.FileNotFoundException => () }
      }
    } finally {
      jl.lock.unlock()
      releaseJvm(path.toString)
    }
  }
}
