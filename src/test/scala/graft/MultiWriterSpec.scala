package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.IdempotentFileSink
import graft.sources.{CommitLock, FileManifest, IncrementalLedger}

/** Contended-writer safety: two threads racing commits on ONE root must
  * leave no torn state — exactly one winner per idempotent batch,
  * serialized ledger runs with exactly-once input consumption, and a
  * version log that names every rival's appends. Plus the CommitLock
  * primitive itself: mutual exclusion and stale-lock breaking.
  */
class MultiWriterSpec extends AnyFunSuite with SparkSpec {

  private def race(bodies: (() => Unit)*): Unit = {
    val pool = Executors.newFixedThreadPool(bodies.length)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val futures = bodies.map { b =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try b() catch { case t: Throwable => errs.add(t) }
        }
      })
    }
    start.countDown()
    futures.foreach(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    if (!errs.isEmpty) throw errs.peek()
  }

  /** The current version names exactly the tree's data files: nothing
    * landed outside the log, nothing it names is missing.
    */
  private def assertVersionIsTree(dir: String): Unit = {
    val named = spark.read.parquet(ManifestDir(spark, dir)).select("file")
      .collect().map(r => graft.sources.FsListing.norm(r.getString(0))).toSet
    val tree = graft.sources.FsListing.listDataFiles(
      new Path(dir).getFileSystem(spark.sessionState.newHadoopConf()),
      new Path(dir)).toSet
    assert(named === tree, "current version and data tree disagree")
  }

  test("CommitLock: mutual exclusion under contention; stale locks break") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val p = new Path(s"$dir/lock")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val total = new java.util.concurrent.atomic.AtomicInteger(0)
    race((1 to 4).map(_ => () => {
      (1 to 5).foreach { _ =>
        CommitLock.withLock(fs, p) {
          val in = inside.incrementAndGet()
          maxInside.accumulateAndGet(in, math.max)
          total.incrementAndGet()
          Thread.sleep(5)
          inside.decrementAndGet()
        }
      }
    }): _*)
    assert(maxInside.get == 1, s"two writers were inside the critical section")
    assert(total.get == 20, "lost increments — the lock did not serialize")

    // stale lock left by a "crashed" writer: a waiter breaks it
    fs.create(p, false).close()
    val t0 = System.currentTimeMillis()
    CommitLock.withLock(fs, p, waitMs = 10000L, staleMs = 1L) { total.incrementAndGet() }
    assert(total.get == 21)
    assert(System.currentTimeMillis() - t0 < 10000L, "stale break never happened")
  }

  test("CommitLock: live holder heartbeats past staleMs; fresh mtime is never broken") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_hb").toString
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

    // (a) the holder's own heartbeat: a critical section 3x longer than
    // the refresh interval must leave the lock file's mtime ADVANCING —
    // a live holder never looks abandoned, whatever staleMs a caller set
    val p1 = new Path(s"$dir/hb.lock")
    val mtimes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    CommitLock.withLock(fs, p1, waitMs = 10000L, staleMs = 900L) {
      val t0 = fs.getFileStatus(p1).getModificationTime
      mtimes.add(t0)
      Thread.sleep(2500) // ~8 heartbeats at staleMs/3 = 300 ms
      mtimes.add(fs.getFileStatus(p1).getModificationTime)
    }
    val Seq(first, last) = mtimes.toArray(Array.empty[java.lang.Long]).toSeq.map(_.toLong)
    assert(last > first,
      s"lock mtime never refreshed during a long critical section ($first -> $last)")

    // (b) the waiter side: a lock whose mtime keeps refreshing (a rival
    // PROCESS's heartbeat, simulated by touching) is never stale-broken
    // even when its AGE far exceeds staleMs; the waiter enters only
    // after the file is released
    val p2 = new Path(s"$dir/rival.lock")
    fs.create(p2, false).close()
    @volatile var touching = true
    val toucher = new Thread(() => {
      while (touching) {
        try fs.setTimes(p2, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () }
        Thread.sleep(100)
      }
    })
    toucher.setDaemon(true)
    toucher.start()
    val releaseAt = System.currentTimeMillis() + 1200L
    val releaser = new Thread(() => {
      Thread.sleep(1200)
      touching = false
      toucher.join()
      fs.delete(p2, false)
      ()
    })
    releaser.start()
    val t0 = System.currentTimeMillis()
    CommitLock.withLock(fs, p2, waitMs = 10000L, staleMs = 300L) { () }
    releaser.join()
    assert(System.currentTimeMillis() >= releaseAt,
      "waiter broke a lock whose mtime was actively refreshing — live holder evicted")
  }

  test("IdempotentFileSink: racing writers on one batch id → one winner, no torn state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mw_sink").toString
    val a = Seq((1L, "writer_a")).toDF("id", "who")
    val b = Seq((1L, "writer_b")).toDF("id", "who")
    race(
      () => IdempotentFileSink.writeBatch(a, root, 7L),
      () => IdempotentFileSink.writeBatch(b, root, 7L))

    assert(IdempotentFileSink.committedBatches(spark, root) == Seq(7L))
    val rows = IdempotentFileSink.read(spark, root).collect()
    assert(rows.length == 1, s"torn commit: ${rows.length} rows")
    assert(Set("writer_a", "writer_b").contains(rows.head.getString(1)))
    // no scratch or lock residue
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val leftovers = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(n => n.startsWith("_tmp_") || n.startsWith("_LOCK_"))
    assert(leftovers.isEmpty, s"residue: ${leftovers.mkString(",")}")

    // different batch ids race independently — both commit
    race(
      () => IdempotentFileSink.writeBatch(a, root, 8L),
      () => IdempotentFileSink.writeBatch(b, root, 9L))
    assert(IdempotentFileSink.committedBatches(spark, root) == Seq(7L, 8L, 9L))
  }

  test("IncrementalLedger: concurrent runs serialize; every input consumed exactly once") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_mw_in").toString
    val led = java.nio.file.Files.createTempDirectory("graft_mw_led").toString + "/ledger"
    (1 to 4).foreach { i =>
      Seq.fill(10)(i.toLong).toDF("v").coalesce(1).write.mode("append").parquet(in)
    }
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    def merge(s1: org.apache.spark.sql.DataFrame, s2: org.apache.spark.sql.DataFrame) =
      s1.unionByName(s2).agg(sum(col("n")).as("n"), sum(col("s")).as("s"))

    race(
      () => { IncrementalLedger.run(spark, in, led, agg, merge); () },
      () => { IncrementalLedger.run(spark, in, led, agg, merge); () })

    val fin = IncrementalLedger.run(spark, in, led, agg, merge) // no-op pass
    assert(fin.newFiles.isEmpty, "post-race run found unconsumed files")
    val st = fin.state.collect().head
    assert(st.getLong(0) == 40L && st.getLong(1) == 100L,
      s"double-counted or lost input: n=${st.getLong(0)} s=${st.getLong(1)}")
  }

  test("FileManifest.writeThrough: racing writers leave a covering, readable manifest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mw_manifest").toString
    def write(lo: Long): Unit = FileManifest.writeThrough(
      (lo until lo + 100L).map(i => (i, s"p$i")).toDF("ts", "payload").coalesce(1),
      dir, Seq("ts"))
    race(() => write(0L), () => write(1000L))

    // blind appends never conflict: both land, and the current version
    // names every file in the tree
    assertVersionIsTree(dir)
    val (df, kept, total) = FileManifest.readPruned(
      spark, dir, "ts", lit(0L), lit(2000L))
    assert(df.count() == 200L, "a rival's rows went missing")
    assert(total >= 2 && kept == total)
    val (one, kept1, _) = FileManifest.readPruned(spark, dir, "ts", lit(1000L), lit(1099L))
    assert(one.count() == 100L && kept1 == 1, s"kept $kept1 files for one writer's range")
  }

  test("FileManifest.vacuum: racing a writer reaps orphans, never committed files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mw_vacuum").toString
    def df(lo: Long) = (lo until lo + 100L).map(i => (i, s"p$i")).toDF("ts", "payload")
    FileManifest.writeThrough(df(0L).coalesce(1), dir, Seq("ts"))
    // a crashed rival's residue: landed, never manifested
    df(5000L).coalesce(1).write.mode("append").parquet(dir)

    // vacuum races a live writer: whichever order the lock grants, the
    // committed writer's files are manifested before its lock releases,
    // so only the planted orphan can die
    val reaped = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    race(
      () => FileManifest.writeThrough(df(1000L).coalesce(1), dir, Seq("ts")),
      // graceMs=0: this spec PLANTS the orphan and relies on the lock
      // tier alone (writeThrough holds it through move+commit)
      () => FileManifest.vacuum(spark, dir, graceMs = 0L).foreach(reaped.add))
    spark.catalog.refreshByPath(dir)

    assert(reaped.size == 1, s"vacuum reaped ${reaped.size} files, expected the 1 orphan")
    // both committed writers fully present, orphan rows gone
    val ts = spark.read.parquet(dir).select(sum(col("ts")).cast("long")).head().getLong(0)
    val want = (0L until 100L).sum + (1000L until 1100L).sum
    assert(ts == want, s"post-vacuum content drifted: $ts != $want")
    // a second vacuum is a no-op on a clean tree
    assert(FileManifest.vacuum(spark, dir, graceMs = 0L).isEmpty,
      "clean-tree vacuum deleted files")
  }

  test("writeThrough overwrite races an appender: lock survives, no torn tree") {
    // Spark's Overwrite mode recursively deletes the root INCLUDING a
    // held _manifest.lock — writeThrough must clear the tree manually so
    // the rival stays excluded for the whole clear+move+commit section.
    // Legal serializations: overwrite→append = {O, A}; append→overwrite
    // = {O}. Anything else (seed surviving an overwrite, a partial
    // appender wipe, a manifest not covering the final tree) is the bug.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mw_ow").toString
    def df(lo: Long) = (lo until lo + 100L).map(i => (i, s"p$i")).toDF("ts", "payload")
    FileManifest.writeThrough(df(0L).coalesce(1), dir, Seq("ts")) // seed
    race(
      () => FileManifest.writeThrough(df(1000L).coalesce(1), dir, Seq("ts"),
        mode = "overwrite"),
      () => FileManifest.writeThrough(df(2000L).coalesce(1), dir, Seq("ts")))
    spark.catalog.refreshByPath(dir)

    assertVersionIsTree(dir)
    val (all, _, _) = FileManifest.readPruned(spark, dir, "ts", lit(0L), lit(3000L))
    val got = all.agg(sum(col("ts")).cast("long")).head().getLong(0)
    val o = (1000L until 1100L).sum
    val a = (2000L until 2100L).sum
    assert(got == o || got == o + a,
      s"post-race content $got is neither {overwrite}=$o nor {overwrite,append}=${o + a}")
    assert(!new java.io.File(s"$dir/_manifest.lock").exists(),
      "lock file leaked past both writers' releases")
  }
}
