package graft.sources

import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Lock-free readers against WRITE-ONCE table versions — the race a
  * full-suite run caught in round 19 came from a two-rename
  * manifest swap that left the table briefly without a current
  * manifest. Each commit now publishes `_versions/<N>` with one
  * put-if-absent rename and never touches it again, so one listing of
  * `_versions` names only complete versions. Pins: (1) a REAL absence
  * (no version at all) answers at once; (2) a writer that died after
  * staging its manifest, before the commit rename, leaves the table at
  * N — the leftover tmp is ignored; (3) a STRESS loop publishing
  * versions through the commit path at metadata speed (hundreds per
  * second — far denser than real commits) under concurrent
  * version/head pollers: no exception of any flavor escapes, and every
  * observed head is monotonic; (4) a commit onto a version a rival
  * already published fails loud, nests nothing, and leaves the table
  * readable.
  */
class SwapRaceSpec extends AnyFunSuite with graft.SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/swaprace_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def hfsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def seed(dir: String, n: Long): Unit = {
    import spark.implicits._
    FileManifest.writeThrough(
      (1L to n).map(k => (k, k % 5)).toDF("k", "g"),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
  }

  test("real absence fails fast: nonexistent table pays zero backoff") {
    val dir = freshDir("absent") // never created
    spark.range(1).count() // session + FileSystem init outside the timer
    hfsOf(dir)
    val t0 = System.nanoTime()
    assert(FileManifest.currentVersionOf(spark, dir) === 0L)
    assert(FileManifest.versions(spark, dir).isEmpty)
    val ms = (System.nanoTime() - t0) / 1000000L
    // one failed listing of `_versions` answers: no probe of an absent
    // table may wait on anything
    assert(ms < 400L, s"absence probe paid a swap backoff (${ms}ms)")
  }

  test("writer died before commit rename: current stays at N") {
    import spark.implicits._
    val dir = freshDir("deadwriter")
    seed(dir, 50L)
    FileManifest.mergeKeys(spark, dir, Seq((1L, 99L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k")) // -> v2
    val hfs = hfsOf(dir)
    // a writer that staged its manifest for v3 and died before the
    // commit rename: the staged dir is all it leaves
    FileUtil.copy(hfs, new Path(FileManifest.versionDir(dir, 2L)), hfs,
      new Path(s"$dir/_manifest_tmp_dead"), false,
      spark.sessionState.newHadoopConf())
    val t0 = System.nanoTime()
    assert(FileManifest.currentVersionOf(spark, dir) === 2L,
      "a staged, uncommitted manifest is not a version")
    assert(FileManifest.versions(spark, dir) === Seq(1L, 2L))
    assert((System.nanoTime() - t0) / 1000000L < 400L,
      "a healthy table must not pay a backoff")
    assert(ManifestFileIndex.read(spark, dir).count() === 50L)
    // the next commit lands at v3 beside the leftover
    FileManifest.mergeKeys(spark, dir, Seq((2L, 98L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k"))
    assert(FileManifest.versions(spark, dir) === Seq(1L, 2L, 3L))
  }

  test("stress: metadata-speed swap churn under concurrent pollers — no crash, monotonic heads") {
    import spark.implicits._
    val dir = freshDir("stress")
    seed(dir, 50L)
    FileManifest.mergeKeys(spark, dir, Seq((1L, 99L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k")) // v2: history machinery present
    val hfs = hfsOf(dir)
    val conf = spark.sessionState.newHadoopConf()
    val lastV = 160L
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // two poller flavors: the change-feed head probe (versions) and the
    // as-of pin (currentVersionOf), plus the batched op resolver — the
    // three lock-free listing paths a tailing consumer exercises
    def poller(f: () => Unit) = new Thread(() => {
      var seenHead = 0L
      try while (!stop.get()) {
        val vs = FileManifest.versions(spark, dir)
        assert(vs.nonEmpty, "versions went empty under churn")
        // each probe is one listing of `_versions` — a snapshot that can
        // only trail the true head, never undo an observed commit
        assert(vs.max >= seenHead - 1,
          s"head regressed: saw $seenHead, now ${vs.max}")
        seenHead = math.max(seenHead, vs.max)
        val cur = FileManifest.currentVersionOf(spark, dir)
        assert(cur >= seenHead, s"current $cur behind observed head $seenHead")
        seenHead = math.max(seenHead, cur)
        f()
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    val threads = Seq(
      poller(() => ()),
      poller(() =>
        FileManifest.opsOfVersions(hfs, dir, Set(2L, lastV / 2, lastV))))
    threads.foreach(_.start())
    // the commit path, driven at raw-metadata speed: copy the current
    // version to a tmp sibling and publish it put-if-absent as the next
    // version. Hundreds of commits per second under the pollers.
    for (v <- 3L to lastV) {
      val tmp = new Path(s"$dir/_manifest_tmp_swaprace")
      FileUtil.copy(hfs, new Path(FileManifest.versionDir(dir, v - 1)), hfs,
        tmp, false, conf)
      FileManifest.commitVersion(hfs, dir, tmp, "merge", v)
    }
    Thread.sleep(100) // let the pollers observe the settled head
    stop.set(true)
    threads.foreach(_.join(30000))
    assert(threads.forall(!_.isAlive), "a poller wedged instead of finishing")
    if (failure.get() != null) throw failure.get()
    assert(FileManifest.currentVersionOf(spark, dir) === lastV)
    assert(FileManifest.versions(spark, dir) === (1L to lastV))
  }

  test("a commit onto an existing version fails loud and nests nothing") {
    import spark.implicits._
    val dir = freshDir("putifabsent")
    seed(dir, 50L)
    FileManifest.mergeKeys(spark, dir, Seq((1L, 99L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k")) // -> v2
    val hfs = hfsOf(dir)
    val conf = spark.sessionState.newHadoopConf()
    val n = FileManifest.currentVersionOf(spark, dir)
    def staged(name: String, from: Long): Path = {
      val tmp = new Path(s"$dir/_manifest_tmp_$name")
      FileUtil.copy(hfs, new Path(FileManifest.versionDir(dir, from)), hfs,
        tmp, false, conf)
      tmp
    }
    // a rival past a stale-broken lock already published N+1 — N's
    // manifest again, so the table's rows stay N's
    FileManifest.commitVersion(hfs, dir, staged("rival", n), "merge", n + 1)
    // this writer staged v1's manifest for N+1 and commits second
    val mine = staged("mine", 1L)
    val e = intercept[ConcurrentWriteException] {
      FileManifest.commitVersion(hfs, dir, mine, "merge", n + 1)
    }
    assert(e.getMessage.contains(s"version ${n + 1}"), e.getMessage)
    assert(!hfs.exists(new Path(FileManifest.versionDir(dir, n + 1),
      mine.getName)), "the losing manifest nested inside the winner's")
    assert(!hfs.exists(mine), "the losing manifest was left behind")
    assert(FileManifest.versions(spark, dir) === Seq(1L, n, n + 1))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "g").as[(Long, Long)].collect().toSet
    assert(rows(ManifestFileIndex.read(spark, dir)) ===
      rows(FileManifest.readAsOf(spark, dir, n)),
      "the table must read as it stood at N")
  }
}
