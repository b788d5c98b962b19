package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ConcurrentWriteException, FileManifest}

/** REAL two-thread optimistic-concurrency races (SurgeryConflictSpec
  * pins the conflict path deterministically through the
  * beforeCommitHook seam; this spec runs rival surgeries on live
  * threads): two writers plan against the same version, stage
  * concurrently in their private UUID dirs, and the loser's commit
  * either lands after a retry re-planned from the winner's version or
  * fails loud — never a lost update, never a torn manifest, never
  * leaked staging.
  */
class SurgeryRaceSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/srace_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  /** Retry-forever loop counting real conflicts — [[ConflictRetry]]'s
    * protocol with observation (and no attempt cap, so the assertion is
    * about CORRECTNESS under the race, not about winning within k
    * tries).
    */
  private def retrying(conflicts: AtomicInteger)(body: => Unit): Unit = {
    var done = false
    while (!done) {
      try { body; done = true }
      catch { case _: ConcurrentWriteException =>
        conflicts.incrementAndGet(); Thread.sleep(25L) }
    }
  }

  private def launch(latch: CountDownLatch,
      err: AtomicReference[Throwable])(body: => Unit): Thread = {
    val t = new Thread(() => {
      try { latch.await(); body }
      catch { case x: Throwable => err.set(x) }
    })
    t.start(); t
  }

  private def stagingLeftovers(dir: String): Seq[String] = {
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    hfs.listStatus(p.getParent).iterator.map(_.getPath.getName)
      .filter(_.startsWith(s"${p.getName}_stg_")).toSeq
  }

  test("rival mergeKeys threads: both effects land, versions monotonic") {
    import spark.implicits._
    val dir = freshDir("mm")
    FileManifest.writeThrough(
      (1L to 400L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")

    val conflicts = new AtomicInteger(0)
    val err = new AtomicReference[Throwable]()
    val latch = new CountDownLatch(1)
    val a = launch(latch, err)(retrying(conflicts) {
      FileManifest.mergeKeys(spark, dir,
        Seq((10L, -1L), (20L, -1L), (30L, -1L)).toDF("k", "v"),
        "k", Seq("k"), bloomCols = Seq("k"))
    })
    val b = launch(latch, err)(retrying(conflicts) {
      FileManifest.mergeKeys(spark, dir,
        Seq((210L, -2L), (220L, -2L), (9999L, -2L)).toDF("k", "v"),
        "k", Seq("k"), bloomCols = Seq("k"))
    })
    latch.countDown()
    a.join(180000L); b.join(180000L)
    assert(!a.isAlive && !b.isAlive, "surgery threads wedged")
    assert(err.get() == null, s"thread failed: ${err.get()}")

    // no lost update: BOTH surgeries' rows present exactly once
    val rows = graft.sources.ManifestFileIndex.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size === 401, "row count drifted under the race")
    assert(Seq(10L, 20L, 30L).forall(rows(_) === -1L),
      "thread A's merge was lost")
    assert(Seq(210L, 220L, 9999L).forall(rows(_) === -2L),
      "thread B's merge was lost")
    assert(rows(11L) === 11L && rows(211L) === 211L)
    // exactly two commits landed — a conflicted attempt must not burn a
    // version number or publish twice
    assert(FileManifest.versions(spark, dir) === Seq(1L, 2L, 3L))
    assert(stagingLeftovers(dir).isEmpty,
      "conflicted staging dirs must be cleaned up")
  }

  test("deleteRange races mergeKeys on an overlapping file set") {
    import spark.implicits._
    val dir = freshDir("dm")
    FileManifest.writeThrough(
      (1L to 300L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(3, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")

    val conflicts = new AtomicInteger(0)
    val err = new AtomicReference[Throwable]()
    val latch = new CountDownLatch(1)
    val del = launch(latch, err)(retrying(conflicts) {
      FileManifest.deleteRange(spark, dir, "k", lit(50L), lit(70L),
        Seq("k"), bloomCols = Seq("k"))
    })
    val mrg = launch(latch, err)(retrying(conflicts) {
      FileManifest.mergeKeys(spark, dir,
        Seq((80L, -8L), (90L, -9L)).toDF("k", "v"),
        "k", Seq("k"), bloomCols = Seq("k"))
    })
    latch.countDown()
    del.join(180000L); mrg.join(180000L)
    assert(!del.isAlive && !mrg.isAlive, "surgery threads wedged")
    assert(err.get() == null, s"thread failed: ${err.get()}")

    val rows = graft.sources.ManifestFileIndex.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // whichever committed second re-planned over the first's version:
    // the delete removed 50..70 AND the merge's values stuck
    assert((50L to 70L).forall(!rows.contains(_)), "delete was lost")
    assert(rows(80L) === -8L && rows(90L) === -9L, "merge was lost")
    assert(rows.size === 300 - 21)
    assert(FileManifest.versions(spark, dir) === Seq(1L, 2L, 3L))
    assert(stagingLeftovers(dir).isEmpty)
  }
}
